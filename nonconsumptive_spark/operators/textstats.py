"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure column expressions (JVM-side, codegen'd) so they run at scan
throughput on 100 TB — no Python in the hot path.  Each has an exact
SQL-expressible definition so the DuckDB oracle can verify it.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nonconsumptive_spark.functions.text import let, ngram_structs, tokenize

# Tiny deterministic stopword lists per language for the n-gram/stopword
# language-ID heuristic.  (Real deployments swap in fastText et al. behind
# the same operator signature; the heuristic keeps the operator
# oracle-checkable.)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "de": ("der", "die", "das", "und", "ist", "von", "ein", "zu"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "en"),
}


def ws_token_count(text_col: str) -> Column:
    """Whitespace token count as a column expression (reusable inside other
    operators without forcing a join back to the source frame)."""
    c = text_col if isinstance(text_col, Column) else F.col(text_col)
    # NULL text counts as empty: size() of a NULL split is legacy -1
    toks = F.filter(F.split(F.coalesce(c, F.lit("")), r"\s+"),
                    lambda x: x != F.lit(""))
    return F.size(toks).cast("long")


def token_count_ws(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace token count — the cheap `wc -w` approximation."""
    return df.select(id_col, ws_token_count(text_col).alias("n_ws_tokens"))


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality features: length, mean word length, alpha ratio,
    stopword ratio, all-caps ratio.  Deterministic and SQL-expressible."""
    t = F.coalesce(F.col(text_col), F.lit(""))  # NULL text = empty
    toks = tokenize(t)
    n_tokens = F.size(toks)
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, r"[^\p{L}]", ""))
    en_stop = F.array(*[F.lit(s) for s in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en_stop, F.lower(t))))
    return df.select(
        id_col,
        n_chars.cast("long").alias("n_chars_obs"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(F.when(n_tokens > 0, n_alpha / n_tokens).otherwise(F.lit(0.0)), 4).alias("mean_word_len"),
        F.round(F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0)), 4).alias("alpha_ratio"),
        F.round(F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0)), 4).alias("stopword_ratio"),
    )


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Stopword-vote language ID: score = share of tokens in each language's
    stopword list; predict the argmax with deterministic (alphabetical)
    tie-break; 'und' (undetermined) when no stopwords hit at all.
    NULL text counts as empty (-> 'und', 0 hits).

    ``extra_cols``: input columns carried through the (zero-shuffle)
    projection — agreement-style consumers pass the label column here
    instead of equi-joining this frame back to the corpus on doc id,
    which costs two exchanges and a second scan for data that was on
    the very rows this scan read (r8, guide §2.4)."""
    toks = tokenize(F.coalesce(F.col(text_col), F.lit("")))
    scores = []
    for lang in sorted(LANG_STOPWORDS):
        arr = F.array(*[F.lit(s) for s in LANG_STOPWORDS[lang]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(arr, F.lower(t))))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    # array_max on struct compares fieldwise: (hits, lang); for the argmax
    # with alphabetical tie-break on ties we want max hits then MIN lang, so
    # compare on (hits, negated-rank) — simpler: sort desc by hits, asc lang.
    best = F.array_sort(
        F.array(*scores),
        lambda a, b: F.when(a["hits"] > b["hits"], -1)
        .when(a["hits"] < b["hits"], 1)
        .when(a["lang"] < b["lang"], -1)
        .when(a["lang"] > b["lang"], 1)
        .otherwise(0),
    )[0]
    return df.select(
        id_col,
        *extra_cols,
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias("pred_lang"),
        best["hits"].cast("long").alias("stopword_hits"),
    )


def repetition_scores(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText filter
    family): duplicate-line fraction, duplicate-bigram fraction, and the
    fraction of bigrams taken by the single most frequent bigram.
    Documents dominated by boilerplate or looping generations score high
    and get dropped by a threshold filter downstream.

    Everything is computed INSIDE per-row arrays (split / array_distinct /
    a sorted run-length fold for the mode) — a narrow map with zero
    shuffle, so it runs at scan throughput at any corpus size.  The
    explode→groupBy formulation the oracle uses would shuffle every bigram
    in the corpus."""
    t = F.coalesce(F.col(text_col), F.lit(""))  # NULL text = empty
    lines = F.filter(F.split(t, "\n"), lambda x: x != F.lit(""))
    n_lines = F.size(lines)
    dup_line_frac = F.when(
        n_lines > 0, 1.0 - F.size(F.array_distinct(lines)) / n_lines
    ).otherwise(F.lit(0.0))

    grams = F.transform(
        ngram_structs(tokenize(t), 2),
        lambda s: F.concat_ws(" ", s["w0"], s["w1"]),
    )
    n_bg = F.size(grams)
    dup_bigram_frac = F.when(
        n_bg > 0, 1.0 - F.size(F.array_distinct(grams)) / n_bg
    ).otherwise(F.lit(0.0))
    # mode count via run-length fold over the sorted gram array: one pass,
    # no shuffle (the same sorted-RLE trick as the chunked-wordcount kernel)
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )
    top_run = F.aggregate(
        F.array_sort(grams),
        zero,
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc["best"],
                F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_bigram_frac = F.when(n_bg > 0, top_run / n_bg).otherwise(F.lit(0.0))
    return df.select(
        id_col,
        n_lines.cast("long").alias("n_lines"),
        F.round(dup_line_frac, 4).alias("dup_line_frac"),
        F.round(dup_bigram_frac, 4).alias("dup_bigram_frac"),
        F.round(top_bigram_frac, 4).alias("top_bigram_frac"),
    )


def decontaminate(docs: DataFrame, eval_docs: DataFrame,
                  overlap_threshold: int = 1, n: int = 3,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ≥
    ``overlap_threshold`` distinct n-gram shingles with an evaluation set
    (the standard guard against test-set leakage into training data).

    Plan shape: distinct eval shingles (a small side — eval sets are
    thousands of docs, not billions) are joined against the training
    side's exploded shingles; the overlap count per doc comes back via a
    hash agg and a LEFT join marks clean docs.  At scale the eval-shingle
    table broadcasts (or bucket-joins if an eval corpus is huge); the
    training corpus never self-joins.  Returns every training doc with
    (n_overlap_shingles, is_contaminated)."""
    from nonconsumptive_spark.operators.dedup import doc_shingles

    train_sh = doc_shingles(docs, id_col, text_col, n=n).select(
        id_col, F.explode("shingles").alias("shingle")
    )
    eval_sh = (
        doc_shingles(eval_docs, id_col, text_col, n=n)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    overlap = (
        train_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy(id_col)
        .agg(F.countDistinct("shingle").alias("n_overlap_shingles"))
    )
    return docs.select(id_col).join(overlap, id_col, "left").select(
        id_col,
        F.coalesce("n_overlap_shingles", F.lit(0)).alias("n_overlap_shingles"),
        (F.coalesce("n_overlap_shingles", F.lit(0)) >= overlap_threshold)
        .alias("is_contaminated"),
    )


def hash_sample(df: DataFrame, fractions: dict[str, float],
                key_col: str = "doc_id", stratum_col: str = "source",
                modulus: int = 10_000) -> DataFrame:
    """Deterministic stratified sampling for data mixing: keep a row iff
    ``md5(key) mod modulus < fraction * modulus`` for its stratum's
    fraction.  Unlike ``sample()``/``sampleBy()`` (RNG per task, results
    shift with partitioning), the hash decision is a pure function of the
    ROW — reproducible across engines, runs, cluster sizes, and even
    incremental re-ingests (a doc's fate never changes), which is what a
    training-mixture spec needs.  Zero shuffle: filter + map only.
    Strata absent from ``fractions`` are dropped (mixture semantics)."""
    bucket = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10) \
        .cast("long") % modulus
    frac = F.create_map(
        *[F.lit(x) for kv in fractions.items() for x in kv]
    )[F.col(stratum_col)]
    return df.filter(frac.isNotNull() & (bucket < frac * modulus))


def split_expr(key_col: str = "doc_id",
               weights: tuple[tuple[str, int], ...] = (
                   ("train", 98), ("val", 1), ("test", 1)),
               modulus: int = 10_000) -> Column:
    """The split assignment as a bare Column (see quality_keep_expr)."""
    total = sum(w for _, w in weights)
    bucket = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10)
        .cast("long") % modulus
    )
    cum = 0
    expr = None
    for name, w in weights[:-1]:
        cum += w
        edge = (cum * modulus) // total
        expr = (F.when(bucket < edge, name) if expr is None
                else expr.when(bucket < edge, name))
    return expr.otherwise(weights[-1][0])


def dataset_split(df: DataFrame,
                  weights: tuple[tuple[str, int], ...] = (
                      ("train", 98), ("val", 1), ("test", 1)),
                  key_col: str = "doc_id",
                  modulus: int = 10_000) -> DataFrame:
    """Deterministic train/val/test assignment: md5(key) mod modulus falls
    into integer bands sized by the cumulative weights.  Like hash_sample,
    the split is a pure function of the row — a document never migrates
    between splits across runs, engines, cluster sizes, or incremental
    re-ingests (the property that keeps eval sets uncontaminated as the
    corpus grows).  Zero shuffle; band edges are exact integers."""
    return df.select(key_col, split_expr(key_col, weights, modulus).alias("split"))


def temperature_mix(df: DataFrame, stratum_col: str = "source") -> DataFrame:
    """Square-root temperature sampling weights per stratum (the alpha=0.5
    mixture rule used to up-weight small sources in multilingual/multi-
    domain training sets): mix_frac_s = sqrt(n_s) / Σ_t sqrt(n_t).

    sqrt is IEEE-correctly-rounded in every engine (unlike pow), so the
    per-stratum weights are bit-identical cross-engine; the normalizing
    sum spans only #strata doubles and the output rounds to 6 decimals.
    One stratum-keyed count agg + one tiny cross join — no data movement
    beyond the (stratum, count) pairs."""
    counts = df.groupBy(stratum_col).agg(F.count("*").alias("n_docs"))
    tot = counts.agg(F.sum(F.sqrt("n_docs")).alias("z"))
    return (
        counts.crossJoin(tot)
        .select(
            stratum_col,
            "n_docs",
            F.round(F.sqrt("n_docs") / F.col("z"), 6).alias("mix_frac"),
        )
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-duplicate fingerprint: md5 of the normalized text (lowercased,
    non-letters collapsed to single spaces, trimmed).  md5 is identical in
    Spark and DuckDB, so the oracle checks it bit-for-bit."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^\p{L}]+", " "))
    return df.select(id_col, F.md5(norm).alias("fingerprint"))


# ---------------------------------------------------------------------------
# PII redaction — the compliance pass every training-data pipeline runs
# before anything ships: emails, URLs, and long digit runs (phone/account
# numbers) replaced by typed placeholder tokens.  Patterns are ASCII-only
# so Java regex (Spark) and RE2 (DuckDB) agree character-for-character.
# Zero shuffle: a regexp_replace chain over the scan.
# ---------------------------------------------------------------------------
PII_URL = r"https?://[^\s]+"
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_DIGITS = r"\d{7,}"


def redact_pii(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """(id, n_urls, n_emails, n_id_runs, redacted) — counts of each PII
    class found plus the text with them replaced by <URL>/<EMAIL>/<ID>.
    Replacement order matters: URLs first (an email-shaped substring inside
    a URL query string must redact as part of the URL), then emails, then
    bare digit runs (digits inside already-redacted spans are gone)."""
    t = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(t, F.lit(PII_URL), 0)).cast("long").alias("n_urls"),
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), 0)).cast("long").alias("n_emails"),
    ]
    red = F.regexp_replace(t, PII_URL, "<URL>")
    red = F.regexp_replace(red, PII_EMAIL, "<EMAIL>")
    n_ids = F.size(F.regexp_extract_all(red, F.lit(PII_DIGITS), 0)).cast("long")
    red = F.regexp_replace(red, PII_DIGITS, "<ID>")
    return df.select(
        id_col, *counts, n_ids.alias("n_id_runs"), red.alias("redacted"),
    )


# ---------------------------------------------------------------------------
# Perplexity-proxy quality scoring: per-document mean unigram log-prob
# under the corpus's own (Laplace-smoothed, capped) unigram model.  The
# cheap stand-in for the KenLM perplexity filter in CCNet-style pipelines:
# documents full of rare/garbage tokens score low and get dropped.
# ---------------------------------------------------------------------------
def unigram_logprob_scores(df: DataFrame, vocab_cap: int = 50_000,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """(id, n_tokens, avg_logprob) with logprob(t) = ln((c_t + 1) /
    (N + V + 1)) for the ``vocab_cap`` most frequent tokens (ties broken by
    token asc), and every other token scored as OOV with c_t = 0.  V is the
    CAPPED vocabulary size, N the total token count.

    Plan shape: one corpus-wide count aggregation builds the model (partial
    map-side combine; top-cap via orderBy+limit so the rank window never
    sees the full vocab), the model broadcasts onto the exploded token
    stream, and the per-doc mean is a second hash agg keyed on the doc id.
    Two shuffles total, both on short keys; the model table is ≤ cap rows
    by construction, so the broadcast is always safe.  The exploded token
    frame is materialized once — it feeds BOTH the model aggregation and
    the scoring join, which would otherwise re-run the tokenizer over the
    corpus twice."""
    from nonconsumptive_spark.functions.text import tokenize
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    toks = materialize_once(
        df.select(id_col, F.explode(tokenize(text_col)).alias("token")),
        "unigram_lm_toks",
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("c"))
    vocab = counts.orderBy(F.desc("c"), F.asc("token")).limit(vocab_cap)

    totals = vocab.agg(
        F.sum("c").alias("n_total"), F.count("*").alias("v_size")
    )
    # model = vocab + corpus constants (crossJoin of a 1-row frame)
    model = vocab.crossJoin(F.broadcast(totals)).select(
        "token",
        F.log((F.col("c") + 1) / (F.col("n_total") + F.col("v_size") + 1))
        .alias("logprob"),
    )
    oov = totals.select(
        F.log(1.0 / (F.col("n_total") + F.col("v_size") + 1)).alias("oov_logprob")
    )
    scored = (
        toks.join(F.broadcast(model), "token", "left")
        .crossJoin(F.broadcast(oov))
        .select(id_col, F.coalesce("logprob", "oov_logprob").alias("lp"))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"), F.round(F.avg("lp"), 4).alias("avg_logprob")
    )
    # LEFT join back so token-less documents appear with n_tokens = 0
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("avg_logprob", F.lit(0.0)).alias("avg_logprob"),
        )
    )


def bigram_logprob_scores(df: DataFrame, vocab_cap: int = 50_000,
                          lam: float = 0.5,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """(id, n_tokens, avg_logprob) under an interpolated bigram LM:
    p(w|prev) = lam·c(prev,w)/c(prev) + (1−lam)·(c_vocab(w)+1)/(N+V+1) —
    the next rung above ``unigram_logprob_scores`` on the CCNet ladder:
    word-salad documents fall back to the unigram term, fluent text gains
    the bigram term.  A document's first token (no prev) takes the
    Laplace unigram term alone.  The Laplace constants (capped vocab,
    OOV floor) are IDENTICAL to the unigram scorer, so the two filters
    are directly comparable.

    Plan shape: two corpus aggs build the models (bigram and unigram
    counts); scoring joins the (prev, cur) stream to both — the bigram
    model join is a short-key equi-join, NOT a forced broadcast (bigram
    vocab grows with the corpus; AQE still broadcasts it when small);
    the Laplace model is ≤ cap rows and always broadcasts.  The per-doc
    mean is one id-keyed hash agg.  The (id, prev, cur) stream
    materializes ONCE and every model derives from it — each corpus token
    appears exactly once as ``cur`` (positions 2..n via the bigram pairs,
    position 1 via the prev=NULL row), so the unigram counts are a
    ``cur`` agg and the bigram counts a (prev, cur) agg over the same
    frame; previously each model re-ran the tokenizer over the corpus."""
    from nonconsumptive_spark.functions.text import ngram_structs, tokenize
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    toks_arr = tokenize(text_col)
    # (id, prev, cur): bigram pairs plus one prev=NULL row for the first token
    pairs = df.select(
        id_col, F.explode(ngram_structs(toks_arr, 2)).alias("g")
    ).select(id_col, F.col("g.w0").alias("prev"), F.col("g.w1").alias("cur"))
    first = df.where(F.size(toks_arr) > 0).select(
        id_col,
        F.lit(None).cast("string").alias("prev"),
        F.element_at(toks_arr, 1).alias("cur"),
    )
    rows = materialize_once(pairs.unionByName(first), "bigram_lm_rows")

    uni = rows.groupBy(F.col("cur").alias("token")).agg(
        F.count("*").alias("c_prev")
    )
    big = (
        rows.filter(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count("*").alias("c_big"))
    )
    vocab = uni.orderBy(F.desc("c_prev"), F.asc("token")).limit(vocab_cap)
    totals = vocab.agg(
        F.sum("c_prev").alias("n_total"), F.count("*").alias("v_size")
    )
    lap = vocab.crossJoin(F.broadcast(totals)).select(
        F.col("token").alias("cur"),
        ((F.col("c_prev") + 1) / (F.col("n_total") + F.col("v_size") + 1))
        .alias("p_lap"),
    )
    oov = totals.select(
        (F.lit(1.0) / (F.col("n_total") + F.col("v_size") + 1)).alias("p_oov")
    )

    scored = (
        rows.join(big, ["prev", "cur"], "left")
        .join(uni.withColumnRenamed("token", "prev"), ["prev"], "left")
        .join(F.broadcast(lap), ["cur"], "left")
        .crossJoin(F.broadcast(oov))
        .select(
            id_col,
            F.log(
                F.when(
                    F.col("prev").isNull(), F.coalesce("p_lap", "p_oov")
                ).otherwise(
                    F.lit(lam) * F.coalesce("c_big", F.lit(0)) / F.col("c_prev")
                    + F.lit(1.0 - lam) * F.coalesce("p_lap", "p_oov")
                )
            ).alias("lp"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg("lp"), 4).alias("avg_logprob"),
    )
    return df.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("avg_logprob", F.lit(0.0)).alias("avg_logprob"),
    )


# ---------------------------------------------------------------------------
# Domain capping — "no single source may contribute more than K documents"
# (the anti-monoculture rule in web-corpus curation).  Deterministic: docs
# within a source are ranked by md5(doc_id), so the kept subset is a pure
# function of the data, reproducible across runs and engines.
# ---------------------------------------------------------------------------
def cap_per_source(df: DataFrame, k: int, id_col: str = "doc_id",
                   stratum_col: str = "source") -> DataFrame:
    """Keep at most ``k`` docs per stratum, selected by md5 rank (with the
    id as tie-break).  Exact capping needs a per-stratum ordering — one
    shuffle on the stratum key, and a hot stratum serializes through one
    partition.  That is acceptable when strata are domains (cardinality ≫
    partitions); for pathological skew the scale path is the two-pass
    approximation: measure per-stratum counts, then ``hash_sample`` with
    fraction k/count — no ordering, fully parallel."""
    from pyspark.sql import Window

    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(stratum_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(id_col, stratum_col, "rk")
    )


# ---------------------------------------------------------------------------
# Composite quality filter — the keep/drop decision plus WHY, one boolean
# per rule (Gopher-style).  Pipelines keep the reason columns: they are
# what you aggregate when deciding whether a threshold is miscalibrated.
# ---------------------------------------------------------------------------
def _quality_rule_exprs(text_col: str, min_tokens: int, min_alpha_ratio: float,
                        max_dup_bigram_frac: float,
                        min_stopword_ratio: float) -> dict[str, Column]:
    """The four quality-rule violation flags as bare Columns — the ONE
    definition both the batch filter and the streaming gate build from,
    so a threshold or tokenization tweak can never diverge the two (the
    stream==batch parity test depends on that)."""
    t = F.coalesce(F.col(text_col), F.lit(""))  # NULL text = empty
    toks = tokenize(t)
    n_tokens = F.size(toks)
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, r"[^\p{L}]", ""))
    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0))
    en_stop = F.array(*[F.lit(s) for s in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en_stop, F.lower(t))))
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0))
    grams = F.transform(
        ngram_structs(toks, 2), lambda s: F.concat_ws(" ", s["w0"], s["w1"])
    )
    n_bg = F.size(grams)
    dup_bg = F.when(
        n_bg > 0, 1.0 - F.size(F.array_distinct(grams)) / n_bg
    ).otherwise(F.lit(0.0))
    return {
        "too_short": n_tokens < min_tokens,
        "low_alpha": alpha_ratio < min_alpha_ratio,
        "high_dup": dup_bg > max_dup_bigram_frac,
        "low_stopword": stop_ratio < min_stopword_ratio,
    }


def quality_keep_expr(text_col: str = "text", min_tokens: int = 20,
                      min_alpha_ratio: float = 0.5,
                      max_dup_bigram_frac: float = 0.3,
                      min_stopword_ratio: float = 0.05) -> Column:
    """The composite keep rule as a bare Column — for callers (e.g. the
    streaming curation gate) that must evaluate every verdict in ONE
    projection over the frame rather than joining operator outputs (a
    stream cannot self-join)."""
    rules = _quality_rule_exprs(text_col, min_tokens, min_alpha_ratio,
                                max_dup_bigram_frac, min_stopword_ratio)
    keep = F.lit(True)
    for flag in rules.values():
        keep = keep & ~flag
    return keep


def quality_filter(df: DataFrame, min_tokens: int = 20,
                   min_alpha_ratio: float = 0.5,
                   max_dup_bigram_frac: float = 0.3,
                   min_stopword_ratio: float = 0.05,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(id, too_short, low_alpha, high_dup, low_stopword, keep) — a doc is
    kept iff every rule passes.  All signals are per-row array math (the
    same formulas as quality_score / repetition_scores), so the filter
    runs at scan throughput with zero shuffle.  Built from the same rule
    expressions as quality_keep_expr (the streaming gate's form)."""
    rules = _quality_rule_exprs(text_col, min_tokens, min_alpha_ratio,
                                max_dup_bigram_frac, min_stopword_ratio)
    keep = quality_keep_expr(text_col, min_tokens, min_alpha_ratio,
                             max_dup_bigram_frac, min_stopword_ratio)
    return df.select(
        id_col,
        *[flag.alias(name) for name, flag in rules.items()],
        keep.alias("keep"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
# algorithm): the guarantee-bearing local fingerprint scheme.  Any shared
# substring of >= WINNOW_W + WINNOW_K - 1 tokens between two documents is
# certain to share at least one selected fingerprint, yet only ~2/(w+1) of
# all k-gram hashes are kept.  The standard primitive for partial-overlap
# (not whole-doc) duplicate detection at corpus scale.
# ---------------------------------------------------------------------------
WINNOW_K = 4   # k-gram width (tokens)
WINNOW_W = 4   # winnowing window (hashes)


def winnow_fingerprints(df: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """(id, n_windows, n_fingerprints, fp_checksum): per document, the
    winnowing-selected fingerprint set — its size and its order-insensitive
    XOR (a strong, small verification surface that cannot overflow; the
    set itself would be the join key in a follow-on overlap join).

    Plan shape: everything happens INSIDE the token array of one row —
    positional k-gram hashes via ``transform(sequence(...))``, window
    minima via ``array_min(slice(...))``, selection via
    ``array_distinct`` — a narrow map with zero shuffle and zero Python.
    The reference's fingerprint surface is whole-document
    (document.py md5); this is the sub-document extension."""

    def fp(t):
        n_windows = F.size(t) - (k + w - 2)
        sel = _winnow_selected(t, k, w)
        return F.when(
            n_windows >= 1,
            F.struct(
                n_windows.cast("long").alias("n_windows"),
                F.size(sel).cast("long").alias("n_fingerprints"),
                F.aggregate(sel, F.lit(0).cast("long"),
                            lambda acc, x: acc.bitwiseXOR(x)).alias("fp_checksum"),
            ),
        ).otherwise(
            F.struct(F.lit(0).cast("long").alias("n_windows"),
                     F.lit(0).cast("long").alias("n_fingerprints"),
                     F.lit(0).cast("long").alias("fp_checksum"))
        )

    out = let(tokenize(text_col), fp)
    return df.select(id_col, out.alias("s")).select(id_col, "s.*")


def _winnow_selected(t, k: int, w: int):
    """Distinct winnowing-selected fingerprint array for a bound token
    array ``t`` (callers guard n_windows >= 1 before evaluating)."""
    n_grams = F.size(t) - (k - 1)
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(k)]),
    )
    hashes = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
    )
    n_windows = F.size(t) - (k + w - 2)
    mins = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda i: F.array_min(F.slice(hashes, i, w)),
    )
    return F.array_distinct(mins)


def winnow_overlap_pairs(df: DataFrame, min_shared: int = 2,
                         k: int = WINNOW_K, w: int = WINNOW_W,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """(doc_a, doc_b, n_shared): document pairs sharing at least
    ``min_shared`` winnowing fingerprints — the partial-overlap detector
    the fingerprints exist for.  By the winnowing guarantee, any pair
    sharing a run of >= k+w-1 tokens appears here (with min_shared=1).

    Plan shape: the selected-fingerprint sets materialize once, explode
    to (id, fp) rows, and meet in a fingerprint equi-join — the same
    banded-candidate shape as the LSH/SimHash dedup joins; only pairs
    sharing >=1 fingerprint are ever materialized, never all pairs."""
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    def sel_or_empty(t):
        return F.when(
            F.size(t) - (k + w - 2) >= 1, _winnow_selected(t, k, w)
        ).otherwise(F.array().cast("array<long>"))

    sel = materialize_once(
        df.select(id_col, let(tokenize(text_col), sel_or_empty).alias("fps"))
        .filter(F.size("fps") > 0),
        "winnow_sel",
    )
    ex = sel.select(id_col, F.explode("fps").alias("fp"))
    a = ex.select(F.col(id_col).alias("doc_a"), "fp")
    b = ex.select(F.col(id_col).alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): score every raw document by
# how much more likely its tokens are under a TARGET domain's unigram
# distribution than under the RAW corpus distribution, then keep the top
# fraction.  The standard cheap lever for tilting a 100 TB crawl toward a
# high-quality domain without training a classifier.
# ---------------------------------------------------------------------------
DSIR_VOCAB_CAP = 50_000
DSIR_KEEP_FRAC = 0.25
# Per-token log-ratios are quantized to integer 1e-9 units in the LUT so the
# per-document aggregate is an EXACT BIGINT sum: float summation order (and
# the IEEE -0.0 sign bit that broke the r3 driver hash on q_dsir_weights)
# cannot move averages or the keep cut between engines.  The average is a
# single double division of two exactly-agreed integers at output time.
DSIR_LR_SCALE = 1_000_000_000


def _global_rank_by_score_key(scored: DataFrame, id_col: str) -> DataFrame:
    """Global DESC-score rank WITHOUT a global window (shared by
    dsir_weights and perplexity_buckets — any top-fraction / quantile cut
    over per-doc scores): rank = (# docs in strictly higher ``sk``
    buckets, from a running sum over the bounded score-key histogram)
    + (row_number within the doc's own bucket, ordered by id).  The only
    unpartitioned window runs over the histogram (rows = distinct rounded
    score keys), never the corpus; ties at a bucket boundary break on id,
    so the cut is deterministic on both engines.

    Adds columns ``bucket_rnk``, ``kept_before``, ``g_rank``.  The
    sk-keyed join carries no broadcast hint: the histogram is bounded by
    distinct keys but can still reach millions of rows — AQE downgrades
    it to broadcast at runtime when it is in fact small."""
    from pyspark.sql.window import Window

    hist = scored.groupBy("sk").agg(F.count("*").alias("bucket_n"))
    hw = Window.orderBy(F.desc("sk")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    hist = hist.select(
        "sk",
        (F.sum("bucket_n").over(hw) - F.col("bucket_n")).alias("kept_before"),
    )
    in_bucket = Window.partitionBy("sk").orderBy(F.asc(id_col))
    return (
        scored.withColumn("bucket_rnk", F.row_number().over(in_bucket))
        .join(hist, "sk")
        .withColumn(
            "g_rank",
            (F.col("kept_before") + F.col("bucket_rnk")).cast("long"),
        )
    )


def dsir_weights(df: DataFrame, target_filter: Column,
                 vocab_cap: int = DSIR_VOCAB_CAP,
                 keep_frac: float = DSIR_KEEP_FRAC,
                 id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_tokens, avg_logratio, keep): per-token average of
    ln(p_target(tok) / p_raw(tok)) with add-1 smoothing over the raw
    corpus's ``vocab_cap`` most frequent tokens (OOV tokens share one
    smoothed bucket), and a keep flag for the ``keep_frac`` highest-scoring
    documents (rank ties break on id, so the cut is deterministic).

    Plan shape: two vocabulary-sized aggs (raw + target counts — the
    target side is a filtered re-agg, not a second corpus pass over
    anything wider), a broadcast token→logratio map joined into one
    explode of the scored corpus.  The top-fraction cut does NOT rank all
    documents through one window: it aggregates a histogram of integer
    score keys (floored 1e-6-unit averages, bounded by the distinct keys,
    ≤ a few million — the only unpartitioned window runs over THAT), then
    ranks documents only inside their own score bucket (window partitioned
    by score key).  The corpus-sized frame shuffles once (token agg) and
    never self-joins.  Log-ratios are quantized to integer 1e-9 units in
    the broadcast LUT, so every cross-engine-compared quantity is an exact
    BIGINT sum (see DSIR_LR_SCALE note above)."""
    from pyspark.sql.window import Window

    from nonconsumptive_spark.operators.wordcount import global_wordcount
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    toks_df = df.select(
        id_col, F.col(text_col).alias("__text"), target_filter.alias("__is_tgt")
    )

    # raw vocabulary (capped, deterministic rank ties on token)
    raw_counts = materialize_once(
        global_wordcount(toks_df, id_col, "__text"), "dsir_raw_counts"
    )
    vocab = (
        raw_counts.orderBy(F.desc("count"), F.asc("token")).limit(vocab_cap)
        .select("token", F.col("count").alias("c_raw"))
    )

    tgt_counts = global_wordcount(
        toks_df.filter("__is_tgt"), id_col, "__text"
    ).select("token", F.col("count").alias("c_tgt"))

    # smoothed log ratio per vocab token; totals are 1-row aggregates
    lut = vocab.join(tgt_counts, "token", "left").na.fill({"c_tgt": 0})
    lut = materialize_once(lut, "dsir_lut")
    totals = lut.agg(
        F.sum("c_raw").alias("t_raw"), F.sum("c_tgt").alias("t_tgt"),
        F.count("*").alias("v"),
    )
    lr = F.log(
        ((F.col("c_tgt") + 1) / (F.col("t_tgt") + F.col("v") + 1))
        / ((F.col("c_raw") + 1) / (F.col("t_raw") + F.col("v") + 1))
    )
    # OOV bucket: c_tgt = c_raw = 0 under the same smoothing
    oov = F.log(
        (1.0 / (F.col("t_tgt") + F.col("v") + 1))
        / (1.0 / (F.col("t_raw") + F.col("v") + 1))
    )
    # Quantize the per-token log-ratio to integer 1e-9 units (DSIR_LR_SCALE)
    # INSIDE the broadcast LUT: the corpus-sized aggregate below sums exact
    # BIGINTs, so it is summation-order independent, and the score key is
    # derived from the same integers — no float ever feeds a comparison.
    lr_q = F.round(lr * DSIR_LR_SCALE).cast("long")
    oov_q = F.round(oov * DSIR_LR_SCALE).cast("long")
    lut_lr = lut.crossJoin(F.broadcast(totals)).select(
        "token", lr_q.alias("lr_q")
    )

    scored = (
        toks_df.select(id_col, F.explode(tokenize("__text")).alias("token"))
        .join(F.broadcast(lut_lr), "token", "left")
        .crossJoin(F.broadcast(totals.select(oov_q.alias("oov_q"))))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.coalesce("lr_q", "oov_q")).alias("sum_q"),
        )
        # bucket key = floored average in 1e-6 units; two IEEE double
        # divisions of exactly-represented integers — bit-identical in any
        # engine, same granularity as the old round(raw_avg, 6) key
        .withColumn(
            "sk",
            F.floor(
                F.col("sum_q").cast("double") / F.col("n_tokens") / F.lit(1e3)
            ).cast("long"),
        )
    )
    scored = materialize_once(scored, "dsir_scored")

    n_keep = scored.agg(
        F.ceil(F.count("*") * keep_frac).cast("long").alias("n_keep")
    )
    return (
        _global_rank_by_score_key(scored, id_col)
        .crossJoin(F.broadcast(n_keep))
        .select(
            id_col, "n_tokens",
            # + 0.0 normalizes IEEE -0.0 (a tiny negative rounding to zero
            # keeps its sign bit otherwise — the exact r3 driver-hash trap)
            (F.round(
                F.col("sum_q").cast("double") / F.col("n_tokens")
                / F.lit(float(DSIR_LR_SCALE)), 4
            ) + F.lit(0.0)).alias("avg_logratio"),
            (F.col("g_rank") <= F.col("n_keep")).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Training-order assignment and corpus profiling — the last mile (shuffle
# the corpus deterministically into training shards) and the first mile
# (the dataset-card numbers) of a training-data pipeline.
# ---------------------------------------------------------------------------
def training_order(df: DataFrame, seed: int = 42, n_shards: int = 16,
                   id_col: str = "doc_id") -> DataFrame:
    """(id, shard, pos): a deterministic global shuffle for training —
    every document gets a pseudo-random sort key md5(seed:id), a balanced
    shard by key hash, and a position within its shard.  Reproducible
    across engines, runs, and cluster sizes (same reason as hash_sample:
    the key is a pure row function, not an RNG), and re-keyable by seed
    for a fresh epoch order.

    Scale shape: the within-shard rank is a Window PARTITIONED BY shard;
    ``n_shards`` is sized so a shard fits an executor (production: one
    shard per output file, thousands of shards), the same bounded-shard
    argument as packing.pack_sequences.  The write-side equivalent is
    ``repartition(n_shards, shard).sortWithinPartitions(key)`` where the
    position never materializes at all."""
    from pyspark.sql.window import Window

    key = F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string")))
    keyed = df.select(
        id_col,
        key.alias("k"),
        (F.conv(F.substring(key, 1, 15), 16, 10).cast("long") % n_shards)
        .cast("int").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("k", id_col)
    return keyed.select(
        id_col, "shard", F.row_number().over(w).cast("long").alias("pos")
    )


def corpus_profile(df: DataFrame, stratum_col: str = "source",
                   lang_col: str = "lang", id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-stratum dataset-card numbers: doc count, token totals/means,
    exact interpolated token-count percentiles, distinct language count
    and dominant language (count-desc, name-asc tie-break).

    One narrow tokenize pass feeds one stratum-keyed agg; the dominant
    language is a (stratum, lang) agg reduced by max(struct) — no
    row_number over doc-level rows anywhere."""
    base = df.select(
        stratum_col, lang_col,
        F.size(tokenize(F.coalesce(F.col(text_col), F.lit(""))))
        .cast("long").alias("n_tokens"),  # NULL text = empty
    )
    stats = base.groupBy(stratum_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 3).alias("mean_tokens"),
        F.round(F.expr("percentile(n_tokens, 0.50)"), 3).alias("p50_tokens"),
        F.round(F.expr("percentile(n_tokens, 0.95)"), 3).alias("p95_tokens"),
        F.countDistinct(lang_col).cast("long").alias("n_langs"),
    )
    # count-desc/name-asc argmax as min(struct(-c, lang)): smallest negative
    # count = largest count, then lexicographically smallest language
    top_lang = (
        base.groupBy(stratum_col, lang_col).agg(F.count("*").alias("c"))
        .groupBy(stratum_col)
        .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col(lang_col).alias("l")))
             .alias("m"))
        .select(stratum_col, F.col("m.l").alias("top_lang"))
    )
    return stats.join(top_lang, stratum_col)


# ---------------------------------------------------------------------------
# Crawl-hygiene passes: markup stripping and sentence segmentation — the
# steps between "raw HTML-ish crawl bytes" and the tokenizer.
# ---------------------------------------------------------------------------
_MARKUP_TAG = r"<[^>]*>"
_MARKUP_ENTITIES = (  # the high-frequency HTML entities, decoded exactly
    ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " "),
)


def strip_markup(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(id, clean_text, n_tags_removed): tags out, common entities decoded,
    whitespace collapsed — the trafilatura-shaped extraction step reduced
    to its deterministic core (a real deployment swaps a DOM-aware
    extractor into the same operator signature; the pipeline around it is
    identical).  Zero shuffle: a regexp/replace chain over the scan.

    Entity decode order matters: ``&amp;lt;`` must become ``&lt;`` (one
    decode pass, not a fixpoint), so ``&amp;`` is replaced LAST.  NULL
    text coalesces to '' first — split(NULL) sizes to -1 under non-ANSI
    Spark, which would emit n_tags_removed = -2."""
    text0 = F.coalesce(F.col(text_col), F.lit(""))
    tagless = F.regexp_replace(text0, _MARKUP_TAG, " ")
    decoded = tagless
    for ent, ch in [e for e in _MARKUP_ENTITIES if e[0] != "&amp;"]:
        decoded = F.replace(decoded, F.lit(ent), F.lit(ch))
    decoded = F.replace(decoded, F.lit("&amp;"), F.lit("&"))
    clean = F.trim(F.regexp_replace(decoded, r"\s+", " "))
    n_tags = F.size(F.split(text0, _MARKUP_TAG)) - 1
    return df.select(
        id_col,
        clean.alias("clean_text"),
        n_tags.cast("long").alias("n_tags_removed"),
    )


def sentence_stats(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(id, n_sentences, mean_sentence_tokens, max_sentence_tokens):
    regex sentence segmentation (runs of .!? as terminators) with
    per-sentence token counts — the unit every sentence-level dedup or
    quality pass needs.  All in-row array math, zero shuffle."""

    def stats(sents):
        counts = F.transform(
            sents,
            lambda s: F.size(F.filter(F.split(F.trim(s), r"[^\p{L}]+"),
                                      lambda x: x != F.lit(""))),
        )
        n = F.size(sents)
        total = F.aggregate(counts, F.lit(0).cast("long"),
                            lambda a, x: a + x)
        return F.struct(
            n.cast("long").alias("n_sentences"),
            F.round(F.when(n > 0, total / n).otherwise(F.lit(0.0)), 4)
            .alias("mean_sentence_tokens"),
            F.coalesce(F.array_max(counts), F.lit(0)).cast("long")
            .alias("max_sentence_tokens"),
        )

    # coalesce first: split(NULL) sizes to -1 under non-ANSI Spark, which
    # would emit n_sentences = -1
    sents = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"[.!?]+"),
        lambda s: F.trim(s) != F.lit(""),
    )
    out = let(sents, stats)
    return df.select(id_col, out.alias("s")).select(id_col, "s.*")


def uniform_sample_k(df: DataFrame, k: int,
                     key_col: str = "doc_id") -> DataFrame:
    """Exactly ``k`` rows sampled uniformly and DETERMINISTICALLY: rank by
    md5(key) and keep the k smallest — the eval-subset selector.  Unlike
    ``df.sample``, membership is a pure function of the key (stable
    across runs, engines, partitionings, and corpus growth only appends
    or removes the hash-boundary rows).  Plans as TakeOrderedAndProject:
    distributed partial top-k, never a full sort."""
    return (
        df.withColumn("__rk", F.md5(F.col(key_col).cast("string")))
        .orderBy("__rk", key_col)
        .limit(k)
        .drop("__rk")
    )


# ---------------------------------------------------------------------------
# Round-4 additions: proportional stratified sampling, CCNet-style
# perplexity bucketing, and per-doc n-gram novelty.
# ---------------------------------------------------------------------------
def stratified_sample_proportional(df: DataFrame, k: int,
                                   id_col: str = "doc_id",
                                   stratum_col: str = "source") -> DataFrame:
    """Exactly ``k`` rows allocated across strata PROPORTIONALLY to
    stratum size via largest-remainder (Hamilton) apportionment, each
    stratum's quota filled by deterministic md5-rank — the
    sub-corpus selector when an eval split must mirror the corpus's
    domain mixture exactly (``uniform_sample_k`` ignores strata;
    ``hash_sample`` takes fractions and returns approximate counts).

    Allocation arithmetic is exact BIGINT on purpose (``k*n_i DIV N`` /
    ``k*n_i % N``): both engines agree bit-for-bit, no float quota ever
    decides a row.  Requires k <= corpus rows; then output is exactly k.

    Scale shape: stratum counts are one short agg (rows = #strata); the
    remainder rank is a window over that bounded frame; the per-stratum
    selection rank is the same stratum-keyed shuffle as cap_per_source
    (domains ≫ partitions; pathological skew falls back to the measured
    two-pass hash_sample, see cap_per_source's docstring)."""
    from pyspark.sql import Window

    counts = df.groupBy(stratum_col).agg(F.count("*").alias("n_i"))
    tot = counts.agg(F.sum("n_i").alias("N"))
    alloc0 = counts.crossJoin(F.broadcast(tot)).select(
        stratum_col, "n_i",
        F.expr(f"CAST({k} * n_i DIV N AS BIGINT)").alias("base"),
        F.expr(f"CAST({k} * n_i % N AS BIGINT)").alias("rem"),
    )
    leftover = alloc0.agg((F.lit(k) - F.sum("base")).alias("L"))
    rw = Window.orderBy(F.desc("rem"), F.asc(stratum_col))  # rows = #strata
    alloc = (
        alloc0.withColumn("rrk", F.row_number().over(rw))
        .crossJoin(F.broadcast(leftover))
        .select(
            stratum_col,
            (F.col("base")
             + (F.col("rrk") <= F.col("L")).cast("long")).alias("alloc"),
        )
    )
    h = F.md5(F.col(id_col).cast("string"))
    sw = Window.partitionBy(stratum_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("rk", F.row_number().over(sw).cast("long"))
        .join(F.broadcast(alloc), stratum_col)
        .filter(F.col("rk") <= F.col("alloc"))
        .select(id_col, stratum_col, "rk")
    )


PPL_VOCAB_CAP = 50_000


def perplexity_buckets(df: DataFrame, vocab_cap: int = PPL_VOCAB_CAP,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """CCNet-style perplexity bucketing: score every document by its mean
    token log-probability under the corpus's OWN add-1-smoothed unigram
    LM (capped vocabulary + one OOV bucket), then split the corpus into
    head / middle / tail terciles — head = most-predictable (lowest
    perplexity).  The bucket label is what a curation pipeline samples
    by (CCNet keeps head+middle, drops tail).

    Returns (id, n_tokens, avg_logprob, bucket) for docs with ≥1 token.

    Determinism/exactness: per-token log-probs are quantized to integer
    1e-9 units in the broadcast LUT (the DSIR_LR_SCALE scheme — exact
    BIGINT sums, no float summation order); the tercile cut ranks via
    the integer score-key histogram + in-bucket id rank, never a global
    row_number over the corpus; boundaries are integer arithmetic
    ``(n+2) DIV 3`` on both engines.  One corpus-sized shuffle (the
    token agg); the LM rides as a broadcast."""
    from pyspark.sql import Window

    from nonconsumptive_spark.operators.wordcount import global_wordcount
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    raw_counts = materialize_once(
        global_wordcount(df, id_col, text_col), "ppl_raw_counts"
    )
    vocab = (
        raw_counts.orderBy(F.desc("count"), F.asc("token")).limit(vocab_cap)
        .select("token", F.col("count").alias("c"))
    )
    totals = vocab.agg(
        F.sum("c").alias("t"), F.count("*").alias("v")
    )
    lp = F.log((F.col("c") + 1) / (F.col("t") + F.col("v") + 1))
    oov = F.log(1.0 / (F.col("t") + F.col("v") + 1))
    lp_q = F.round(lp * DSIR_LR_SCALE).cast("long")
    oov_q = F.round(oov * DSIR_LR_SCALE).cast("long")
    lut = vocab.crossJoin(F.broadcast(totals)).select("token", lp_q.alias("lp_q"))

    scored = (
        df.select(id_col, F.explode(tokenize(text_col)).alias("token"))
        .join(F.broadcast(lut), "token", "left")
        .crossJoin(F.broadcast(totals.select(oov_q.alias("oov_q"))))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.coalesce("lp_q", "oov_q")).alias("sum_q"),
        )
        .withColumn(
            "sk",
            F.floor(
                F.col("sum_q").cast("double") / F.col("n_tokens") / F.lit(1e3)
            ).cast("long"),
        )
    )
    scored = materialize_once(scored, "ppl_scored")

    bounds = scored.agg(
        F.expr("CAST((count(*) + 2) DIV 3 AS BIGINT)").alias("h1"),
        F.expr("CAST((2 * count(*) + 2) DIV 3 AS BIGINT)").alias("h2"),
    )
    return (
        _global_rank_by_score_key(scored, id_col)
        .crossJoin(F.broadcast(bounds))
        .select(
            id_col, "n_tokens",
            (F.round(
                F.col("sum_q").cast("double") / F.col("n_tokens")
                / F.lit(float(DSIR_LR_SCALE)), 4
            ) + F.lit(0.0)).alias("avg_logprob"),
            F.when(F.col("g_rank") <= F.col("h1"), F.lit("head"))
             .when(F.col("g_rank") <= F.col("h2"), F.lit("middle"))
             .otherwise(F.lit("tail")).alias("bucket"),
        )
    )


NOVELTY_N = 3


def ngram_novelty(df: DataFrame, n: int = NOVELTY_N,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_grams, n_shared, novelty): of a document's DISTINCT token
    n-grams, how many also occur in at least one OTHER document — and
    novelty = 1 - shared/distinct, the memorization/boilerplate signal
    ("how much of this doc exists elsewhere in the corpus").  Corpus
    curation thresholds novelty to drop template-heavy documents that
    per-pair dedup misses (many small overlaps, no single dominant pair).

    Scale shape: distinct grams per doc are built in-row (the shingle
    array), the corpus-wide doc-frequency is ONE agg keyed by gram, and
    the per-doc rollup joins gram-keyed then re-aggregates by id — two
    shuffles of (id, gram-hash) pairs, never text; the gram table is
    materialized once and feeds both sides."""
    from nonconsumptive_spark.operators.dedup import shingle_array
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    grams = materialize_once(
        df.select(
            id_col,
            F.explode(shingle_array(tokenize(text_col), n)).alias("gram"),
        ),
        "novelty_grams",
    )
    gram_df = grams.groupBy("gram").agg(
        F.count("*").cast("long").alias("gdf")
    )
    return (
        grams.join(gram_df, "gram")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum((F.col("gdf") >= 2).cast("long")).alias("n_shared"),
        )
        .select(
            id_col, "n_grams", "n_shared",
            (F.round(
                F.lit(1.0) - F.col("n_shared") / F.col("n_grams"), 4
            ) + F.lit(0.0)).alias("novelty"),
        )
    )


# --------------------------------------------------------------------------
# Character-level diversity (quality signal: gibberish / boilerplate shows
# up as abnormally low or high char entropy — cf. Gopher/C4-style filters).
#
# Hash-parity design (same playbook as dsir_weights above): every
# cross-engine-compared quantity is either an exact BIGINT (char totals,
# squared-count sums, per-char log2 terms quantized to integer 1e-9 units)
# or a double produced by ONE identical arithmetic expression over those
# exact integers — no float ever accumulates across rows in engine-defined
# order.
ENT_SCALE = 1_000_000_000  # log2 quantization: 1e-9 units ("nano-bits")


def char_diversity(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(id, n_chars_tok, n_distinct_chars, sum_sq, simpson, entropy):
    per-document character histogram statistics.

    * ``simpson`` — Simpson diversity 1 - sum(c_i^2)/n^2 (exact integer
      numerator/denominator, one float division at output).
    * ``entropy`` — Shannon entropy log2(n) - sum(c_i*log2(c_i))/n, with
      each log2 quantized to integer 1e-9 units BEFORE the sum, so the
      per-doc accumulation is an order-independent BIGINT sum.

    Plan: explode chars into the whole-stage-codegen'd hash aggregate.
    A/B vs the in-row sort+RLE fold (doc_token_counts' kernel when it
    was an ``aggregate`` fold): the fold is zero-shuffle but runs the
    interpreted-HOF path per CHARACTER and measured 2.4x slower (1.33s
    vs 0.56s warm at sf0.01) — and the
    explode form's shuffles are histogram-sized anyway: partial hash agg
    collapses each doc to <= |alphabet| rows map-side before either
    exchange, so bytes-on-the-wire ~= final histogram, not the char
    stream.  Codegen wins; shuffle volume ties.  Empty/NULL-text docs are
    re-attached with zero stats (left join on the id spine)."""
    # split('', '') yields [''] (not []) — drop empty strings so an
    # empty/NULL document contributes no rows, mirroring the oracle
    chars = F.explode(
        F.filter(F.split(F.coalesce(F.col(text_col), F.lit("")), ""),
                 lambda x: x != F.lit(""))
    ).alias("c")
    hist = (
        df.select(id_col, chars)
        .groupBy(id_col, "c")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    agg = hist.groupBy(id_col).agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("ss"),
        F.count("*").cast("bigint").alias("d"),
        F.sum(F.col("cnt") *
              F.round(F.log2("cnt") * F.lit(ENT_SCALE)).cast("bigint"))
         .cast("bigint").alias("hq"),
    )
    n = F.col("n")
    return (
        df.select(id_col).join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(n, F.lit(0)).cast("bigint").alias("n_chars_tok"),
            F.coalesce("d", F.lit(0)).cast("bigint").alias("n_distinct_chars"),
            F.coalesce("ss", F.lit(0)).cast("bigint").alias("sum_sq"),
            (F.round(F.when(n > 0, F.lit(1.0) - F.col("ss") / (n * n))
                      .otherwise(F.lit(0.0)), 4) + F.lit(0.0)).alias("simpson"),
            (F.round(F.when(
                n > 0,
                (F.round(F.log2(n) * F.lit(ENT_SCALE)) -
                 F.col("hq").cast("double") / n) / F.lit(ENT_SCALE))
                .otherwise(F.lit(0.0)), 4) + F.lit(0.0)).alias("entropy"),
        )
    )


# --------------------------------------------------------------------------
# Stupid-backoff bigram language-model scoring (Brants et al. 2007): the
# standard cheap corpus-level LM used to perplexity-rank web text for
# training-data curation.  score(w1|w0) = c(w0 w1)/c(w0) if the bigram was
# seen, else alpha * c(w1)/N.  Per-doc log-score averages, with the same
# integer-quantized log-term trick as dsir_weights (micro-nat units), so
# the per-doc sum is an exact BIGINT in both engines.
SB_ALPHA = 0.4              # Brants et al.'s fixed backoff weight
SB_SCALE = 1_000_000        # log quantization: 1e-6 nats ("micro-nats")


def stupid_backoff_scores(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          lm_df: DataFrame | None = None) -> DataFrame:
    """(id, n_pairs, sum_q, avg_logscore): per-document mean stupid-backoff
    log-score over adjacent token pairs (docs with < 2 tokens drop out).

    ``lm_df`` selects the corpus the LM counts come from (CCNet-style:
    score everything against a trusted reference corpus's LM).  Default
    None trains on ``df`` itself — in that case every adjacent pair IS a
    corpus bigram and the backoff path is never taken; cross-corpus
    scoring is what exercises it.  Backoff mass is add-1 smoothed over
    the LM vocab (ln(alpha * (c+1) / (N + V))) so words the LM never saw
    still get a finite score.

    Plan shape: ONE LM-corpus tokenization feeds both count tables; the
    unigram table is vocabulary-sized and BROADCASTs onto the bigram
    table to form the scored LUT (log-quantized there, so the doc-level
    agg sums BIGINTs); the corpus-sized pair frame equi-joins the LUT on
    the bigram key — at 100 TB that's one shuffle join on a short string
    key, and the per-doc agg is map-side-combinable."""
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    # Tokenize each corpus exactly ONCE: a materialized per-doc token
    # array frame feeds every consumer — in the self-LM case (lm_df is
    # None) ONE frame serves the scored pairs, the LM unigrams, AND the
    # LM bigrams; in the cross-corpus case the scored side and the LM
    # side each get one tokenization.
    df_toks = materialize_once(
        df.select(F.col(id_col), tokenize(text_col).alias("__toks")),
        "sb_toks")
    pairs = df_toks.select(
        F.col(id_col),
        F.explode(ngram_structs(F.col("__toks"), 2)).alias("g"),
    ).select(id_col, F.col("g.w0").alias("w0"), F.col("g.w1").alias("w1"))

    lm_toks = (
        df_toks.select("__toks") if lm_df is None else
        materialize_once(
            lm_df.select(tokenize(text_col).alias("__toks")), "sb_lm_toks")
    )
    # LM unigrams from the plain token stream (not the pair frame —
    # all-w0-plus-final-token would differ), so c(w) matches the
    # oracle's definition exactly
    toks = lm_toks.select(F.explode("__toks").alias("w"))
    ug = toks.groupBy("w").agg(F.count("*").cast("bigint").alias("c_ug"))
    ug = materialize_once(ug, "sb_unigrams")
    n_total = ug.agg(F.sum("c_ug").alias("n_tok"),
                     F.count("*").alias("v_lm"))

    lm_pairs = (
        pairs if lm_df is None else
        lm_toks.select(F.explode(ngram_structs(F.col("__toks"), 2)).alias("g"))
               .select(F.col("g.w0").alias("w0"), F.col("g.w1").alias("w1"))
    )
    bg = lm_pairs.groupBy("w0", "w1").agg(
        F.count("*").cast("bigint").alias("c_bg"))

    # scored LUT: one row per distinct bigram, log quantized to micro-nats
    lut = (
        bg.join(F.broadcast(ug.select(F.col("w").alias("w0"),
                                      F.col("c_ug").alias("c_w0"))), "w0")
        .select(
            "w0", "w1",
            F.round(F.log(F.col("c_bg") / F.col("c_w0")) * F.lit(SB_SCALE))
             .cast("bigint").alias("q_bg"),
        )
    )
    # backoff LUT: one row per LM unigram (as the second word), add-1
    # smoothed; plus a single OOV floor (c=0 under the same smoothing)
    # for words the LM never saw at all
    backoff = (
        ug.crossJoin(F.broadcast(n_total))
        .select(
            F.col("w").alias("w1"),
            F.round(F.log(F.lit(SB_ALPHA) * (F.col("c_ug") + 1)
                          / (F.col("n_tok") + F.col("v_lm")))
                    * F.lit(SB_SCALE)).cast("bigint").alias("q_bo"),
        )
    )
    oov = n_total.select(
        F.round(F.log(F.lit(SB_ALPHA) * 1
                      / (F.col("n_tok") + F.col("v_lm")))
                * F.lit(SB_SCALE)).cast("bigint").alias("q_oov"))

    scored = (
        pairs.join(lut, ["w0", "w1"], "left")
        .join(F.broadcast(backoff), "w1", "left")
        .crossJoin(F.broadcast(oov))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.coalesce("q_bg", "q_bo", "q_oov")).alias("sum_q"),
        )
        .select(
            id_col, "n_pairs", "sum_q",
            (F.round(F.col("sum_q").cast("double") / F.col("n_pairs")
                     / F.lit(SB_SCALE), 4) + F.lit(0.0)).alias("avg_logscore"),
        )
    )
    return scored


# --------------------------------------------------------------------------
# Jensen-Shannon divergence between subcorpus unigram distributions —
# the standard corpus-drift / domain-shift measurement (e.g. comparing a
# new crawl snapshot against the training mix, or languages/sources
# against each other).  Symmetric, bounded [0, ln 2] in nats.
JSD_SCALE = 1_000_000_000_000  # per-token terms quantized to 1e-12 nats


def unigram_js_divergence(df: DataFrame, label_col: str = "lang",
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """(label_a, label_b, v, n_a, n_b, jsd): pairwise JSD between the
    add-1-smoothed unigram distributions of every pair of label values
    (label_a < label_b).  The vocabulary for a pair is the UNION of the
    two sides' vocabularies, so p and q are both positive everywhere.

    Hash-parity: per-token contributions 0.5*p*ln(p/m) + 0.5*q*ln(q/m)
    (m the midpoint) are computed from exact integer counts with an
    expression mirrored verbatim in the oracle, quantized to integer
    1e-12 units, and summed as BIGINTs — order-independent.

    Plan: one (label, token) agg over the corpus (the only corpus-sized
    shuffle); pair expansion joins that vocabulary-sized table against a
    #labels^2-row broadcast; per-pair scalars (N, V) re-attach by
    broadcast.  At 100 TB nothing bigger than the vocabulary moves after
    the first agg."""
    cnt = (
        df.select(F.col(label_col).alias("lbl"),
                  F.explode(tokenize(text_col)).alias("w"))
        .groupBy("lbl", "w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    from nonconsumptive_spark.plans.checkpoint import materialize_once
    cnt = materialize_once(cnt, "jsd_counts")

    labels = cnt.select("lbl").distinct()
    pairs = (
        labels.select(F.col("lbl").alias("label_a"))
        .join(labels.select(F.col("lbl").alias("label_b")),
              F.col("label_a") < F.col("label_b"))
    )
    # membership rows: (pair, side, lbl) — equi-join key for the counts
    members = pairs.select(
        "label_a", "label_b",
        F.explode(F.array(
            F.struct(F.col("label_a").alias("lbl"), F.lit("a").alias("side")),
            F.struct(F.col("label_b").alias("lbl"), F.lit("b").alias("side")),
        )).alias("m"),
    ).select("label_a", "label_b", F.col("m.lbl").alias("lbl"),
             F.col("m.side").alias("side"))

    per_tok = (
        cnt.join(F.broadcast(members), "lbl")
        .groupBy("label_a", "label_b", "w")
        .agg(
            F.sum(F.when(F.col("side") == "a", F.col("c")).otherwise(0))
             .cast("bigint").alias("c_a"),
            F.sum(F.when(F.col("side") == "b", F.col("c")).otherwise(0))
             .cast("bigint").alias("c_b"),
        )
    )
    per_tok = materialize_once(per_tok, "jsd_per_tok")
    scalars = per_tok.groupBy("label_a", "label_b").agg(
        F.count("*").cast("bigint").alias("v"),
        F.sum("c_a").cast("bigint").alias("n_a"),
        F.sum("c_b").cast("bigint").alias("n_b"),
    )
    p = (F.col("c_a") + 1) / (F.col("n_a") + F.col("v"))
    q = (F.col("c_b") + 1) / (F.col("n_b") + F.col("v"))
    m = (p + q) / 2
    term = F.lit(0.5) * p * F.log(p / m) + F.lit(0.5) * q * F.log(q / m)
    return (
        per_tok.join(F.broadcast(scalars), ["label_a", "label_b"])
        .groupBy("label_a", "label_b")
        .agg(
            F.max("v").alias("v"), F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.sum(F.round(term * F.lit(JSD_SCALE)).cast("bigint"))
             .alias("sum_q"),
        )
        .select(
            "label_a", "label_b", "v", "n_a", "n_b",
            (F.round(F.col("sum_q").cast("double") / F.lit(JSD_SCALE), 6)
             + F.lit(0.0)).alias("jsd"),
        )
    )


def counts_jsd(cnt_a: DataFrame, cnt_b: DataFrame) -> DataFrame:
    """One-row (v, n_a, n_b, jsd): Jensen-Shannon divergence between two
    (token, count) distributions — the pair-free kernel behind
    unigram_js_divergence, reused by the streaming drift monitor
    (streaming/drift.py) to compare an arriving micro-batch against the
    committed corpus.  Same add-1 smoothing over the union vocabulary and
    the same 1e-12-nat integer quantization, so the result is exact given
    the two count tables."""
    a = cnt_a.select(F.col("token").alias("w"), F.col("count").alias("c_a"))
    b = cnt_b.select(F.col("token").alias("w"), F.col("count").alias("c_b"))
    per_tok = (
        a.join(b, "w", "full")
        .select("w", F.coalesce("c_a", F.lit(0)).cast("bigint").alias("c_a"),
                F.coalesce("c_b", F.lit(0)).cast("bigint").alias("c_b"))
    )
    from nonconsumptive_spark.plans.checkpoint import materialize_once
    per_tok = materialize_once(per_tok, "jsd_counts_pair")
    scalars = per_tok.agg(
        F.count("*").cast("bigint").alias("v"),
        F.sum("c_a").cast("bigint").alias("n_a"),
        F.sum("c_b").cast("bigint").alias("n_b"),
    )
    p = (F.col("c_a") + 1) / (F.col("n_a") + F.col("v"))
    q = (F.col("c_b") + 1) / (F.col("n_b") + F.col("v"))
    m = (p + q) / 2
    term = F.lit(0.5) * p * F.log(p / m) + F.lit(0.5) * q * F.log(q / m)
    return (
        per_tok.crossJoin(F.broadcast(scalars))
        .groupBy("v", "n_a", "n_b")
        .agg(F.sum(F.round(term * F.lit(JSD_SCALE)).cast("bigint"))
             .alias("sum_q"))
        .select(
            "v", "n_a", "n_b",
            (F.round(F.col("sum_q").cast("double") / F.lit(JSD_SCALE), 6)
             + F.lit(0.0)).alias("jsd"),
        )
    )


def distinctive_terms(df: DataFrame, label_col: str = "lang", k: int = 10,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """(label, token, c_in, c_out, z_logodds, rank): the k most
    distinctive tokens per label value by weighted log-odds with an
    informative Dirichlet prior (Monroe, Colaresi & Quinn 2008 —
    "Fightin' Words"), the standard corpus-linguistics answer to "what
    words characterize this subcorpus?" that raw frequency ratios and
    TF-IDF both get wrong for rare words.

    z = delta / sqrt(1/(c_in + a_w) + 1/(c_out + a_w)) where delta is the
    prior-smoothed log-odds difference and the prior a_w is the token's
    GLOBAL count (a0 = total corpus tokens).  Every z is a pure function
    of five exact BIGINT counts — no accumulation crosses rows, so
    cross-engine hash parity needs only a mirrored expression (+ round).

    Plan: ONE (label, token) agg over the corpus; global and per-label
    totals are re-aggs of that vocabulary-sized frame; the top-k window
    is partitioned by label.  Ties break (z desc, token asc)."""
    cnt = (
        df.select(F.col(label_col).alias("label"),
                  F.explode(tokenize(text_col)).alias("token"))
        .groupBy("label", "token")
        .agg(F.count("*").cast("bigint").alias("c_in"))
    )
    from nonconsumptive_spark.plans.checkpoint import materialize_once
    cnt = materialize_once(cnt, "dterms_counts")

    glob = cnt.groupBy("token").agg(F.sum("c_in").cast("bigint").alias("c_g"))
    n_lbl = cnt.groupBy("label").agg(F.sum("c_in").cast("bigint").alias("n_in"))
    n_tot = glob.agg(F.sum("c_g").cast("bigint").alias("n_g"))

    scored = (
        cnt.join(glob, "token")
        .join(F.broadcast(n_lbl), "label")
        .crossJoin(F.broadcast(n_tot))
        .withColumn("c_out", (F.col("c_g") - F.col("c_in")).cast("bigint"))
        .withColumn("n_out", (F.col("n_g") - F.col("n_in")).cast("bigint"))
    )
    aw = F.col("c_g")
    a0 = F.col("n_g")
    delta = (
        F.log((F.col("c_in") + aw)
              / (F.col("n_in") + a0 - F.col("c_in") - aw))
        - F.log((F.col("c_out") + aw)
                / (F.col("n_out") + a0 - F.col("c_out") - aw))
    )
    var = (F.lit(1.0) / (F.col("c_in") + aw)
           + F.lit(1.0) / (F.col("c_out") + aw))
    scored = scored.withColumn(
        "z_logodds",
        F.round(delta / F.sqrt(var), 4) + F.lit(0.0))
    from pyspark.sql.window import Window
    w = Window.partitionBy("label").orderBy(F.desc("z_logodds"),
                                            F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("label", "token", "c_in", "c_out", "z_logodds", "rank")
    )


# --------------------------------------------------------------------------
# Poisson bootstrap (the distributed bootstrap: each row enters each
# replicate Poisson(1) times, so resampling is a map-side weight — no
# with-replacement shuffle).  Replicate weights come from an md5 draw
# reduced mod 1e6 and compared against INTEGER thresholds (the cumulative
# Poisson(1) CDF at 6 decimals), so replicate composition is pure BIGINT
# arithmetic — bit-identical in any engine.
BOOT_REPS = 50
# cumulative Poisson(1) CDF * 1e6, rounded: P(X<=k) for k = 0..5
BOOT_CDF = (367879, 735759, 919699, 981012, 996340, 999406)


def bootstrap_mean_ci(df: DataFrame, value_col: str = "n_chars",
                      id_col: str = "doc_id",
                      n_reps: int = BOOT_REPS) -> DataFrame:
    """One row (n_reps, mean, ci_lo, ci_hi): the full-sample mean of
    ``value_col`` with a 95% Poisson-bootstrap confidence interval —
    corpus statistics with error bars, computable in one pass at any
    scale (each replicate's sums are map-side-combinable; nothing is
    ever resampled through a shuffle).

    CI bounds are the discrete 2.5%/97.5% order statistics of the
    replicate means (ties break on replicate id); the only window runs
    over ``n_reps`` rows."""
    from nonconsumptive_spark.operators.dedup import _md5_long
    from pyspark.sql.window import Window

    base = df.select(
        F.col(id_col), F.col(value_col).cast("long").alias("x"),
        F.explode(F.sequence(F.lit(0), F.lit(n_reps - 1))).alias("rep"),
    )
    m = _md5_long(F.concat(F.col(id_col).cast("string"), F.lit("#"),
                           F.col("rep").cast("string"))) % F.lit(1_000_000)
    k = F.lit(len(BOOT_CDF)).cast("long")
    for i in range(len(BOOT_CDF) - 1, -1, -1):
        k = F.when(m < F.lit(BOOT_CDF[i]), F.lit(i).cast("long")).otherwise(k)
    per_rep = (
        base.withColumn("k", k)
        .groupBy("rep")
        .agg(F.sum("k").cast("long").alias("w"),
             F.sum(F.col("k") * F.col("x")).cast("long").alias("wx"))
        .withColumn("rep_mean",
                    F.when(F.col("w") > 0,
                           F.col("wx").cast("double") / F.col("w"))
                     .otherwise(F.lit(0.0)))
    )
    rw = Window.orderBy(F.asc("rep_mean"), F.asc("rep"))
    ranked = per_rep.withColumn("rn", F.row_number().over(rw))
    import math
    lo_i = max(1, math.ceil(0.025 * n_reps))
    hi_i = max(1, math.ceil(0.975 * n_reps))
    ci = ranked.agg(
        F.count("*").cast("long").alias("n_reps"),
        (F.round(F.min(F.when(F.col("rn") == lo_i, F.col("rep_mean"))), 4)
         + F.lit(0.0)).alias("ci_lo"),
        (F.round(F.min(F.when(F.col("rn") == hi_i, F.col("rep_mean"))), 4)
         + F.lit(0.0)).alias("ci_hi"),
    )
    full = df.agg(
        (F.round(F.sum(F.col(value_col).cast("long")).cast("double")
                 / F.count("*"), 4) + F.lit(0.0)).alias("mean"))
    return ci.crossJoin(F.broadcast(full)).select(
        "n_reps", "mean", "ci_lo", "ci_hi")


TFIDF_IDF_SCALE = 1000  # idf quantization (milli-nats) — kept small so
                        # per-pair integer dot products stay far from 2^63


def tfidf_cosine_pairs(df: DataFrame, threshold: float = 0.9,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(doc_a, doc_b, cosine): all document pairs with TF-IDF cosine ≥
    threshold — the sparse-vector member of the all-pairs family (Jaccard
    and containment treat tokens as sets; this weighs them).

    Hash-parity: idf is quantized to integer milli-nats in the
    vocabulary-sized LUT, per-(doc, token) weights are exact integer
    products tf·idf_q, and norms/dots are exact BIGINT sums — the one
    double expression (dot / (|a|·|b|)) is mirrored verbatim.

    Plan: same candidate shape as jaccard_pairs — a token equi-join means
    only pairs sharing ≥1 token materialize, with the per-token fan-out
    capped by document frequency; norms ride along from a vocabulary-
    bounded agg.  Headroom: wq ≤ tf·(ln(N)·1e3); the per-pair dot sum
    stays under 2^63 through ~1e4 shared tokens at tf ~1e3 on a 1e9-doc
    corpus."""
    from nonconsumptive_spark.operators.wordcount import doc_token_counts
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    counts = materialize_once(
        doc_token_counts(df, id_col, text_col), "tcp_counts")
    df_t = counts.groupBy("token").agg(F.count("*").cast("bigint").alias("df"))
    n = df.agg(F.count("*").cast("bigint").alias("n_docs"))
    idf = (
        df_t.crossJoin(F.broadcast(n))
        .select(
            "token",
            F.round(F.log(F.col("n_docs") / F.col("df"))
                    * F.lit(TFIDF_IDF_SCALE)).cast("bigint").alias("idf_q"),
        )
    )
    weighted = (
        counts.join(F.broadcast(idf), "token")
        .select(id_col, "token",
                (F.col("count") * F.col("idf_q")).cast("bigint").alias("wq"))
        # a token in EVERY document has idf_q = 0: it contributes nothing
        # to any dot or norm, but left in the join it fans out
        # O(n_docs^2) zero rows — drop zero weights before anything sees
        # them (output-identical; pairs reachable only through them score
        # cosine 0/NULL, below any positive threshold in both engines)
        .filter(F.col("wq") != 0)
    )
    weighted = materialize_once(weighted, "tcp_weights")
    norms = weighted.groupBy(id_col).agg(
        F.sum(F.col("wq") * F.col("wq")).cast("bigint").alias("n2"))

    a = weighted.select(F.col(id_col).alias("doc_a"), "token",
                        F.col("wq").alias("wa"))
    b = weighted.select(F.col(id_col).alias("doc_b"), "token",
                        F.col("wq").alias("wb"))
    dots = (
        a.join(b, "token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("bigint").alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col(id_col).alias("doc_b"), F.col("n2").alias("nb2"))
    cos = (F.col("dot").cast("double")
           / (F.sqrt(F.col("na2").cast("double"))
              * F.sqrt(F.col("nb2").cast("double"))))
    return (
        dots.join(na, "doc_a").join(nb, "doc_b")
        .withColumn("cosine", F.round(cos, 4) + F.lit(0.0))
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Per-document token entropy — the information-theoretic repetition /
# diversity signal quality filters threshold on (low entropy = boilerplate
# or keyword stuffing; Rae et al. 2021 Gopher rules use the same family).
# ---------------------------------------------------------------------------
ENTROPY_LN_SCALE = 1_000_000_000  # ln(count) quantized to 1e-9 nats


def token_entropy(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(id, n_tokens, n_types, entropy_nats): Shannon entropy of each
    document's token distribution, H = ln(n) - (1/n) * sum_i c_i ln c_i.

    ZERO-shuffle: the sorted-token run-length encode (the
    q_doc_token_counts kernel) runs in-row, and both aggregates fold over
    the run-length array in the same row — the operator is a pure
    projection of the documents scan, so it runs at scan throughput on
    100 TB.  Hash parity: per-run terms c_i * round(ln(c_i) * 1e9) are
    exact BIGINTs (ln of a small positive integer is engine-identical
    IEEE), the sums are exact, and the only float math is one identical
    final expression over two exact integers.
    """
    from nonconsumptive_spark.operators.wordcount import _rle_counts

    rle = let(F.array_sort(tokenize(text_col)), _rle_counts)

    def _fold(expr):
        return F.aggregate(
            rle, F.lit(0).cast("bigint"), lambda acc, e: acc + expr(e))

    n = F.coalesce(
        _fold(lambda e: e["c"]), F.lit(0).cast("bigint")).alias("n_tokens")
    types = F.coalesce(
        _fold(lambda e: F.lit(1).cast("bigint")), F.lit(0).cast("bigint")
    ).alias("n_types")
    # round-half-up via floor(x + 0.5): ln(c) >= 0, and DuckDB's round()
    # (half away from zero) only matches Spark's HALF_UP for positives —
    # floor(+0.5) is the one spelling identical in both engines.
    s = F.coalesce(
        _fold(lambda e: e["c"] * F.floor(
            F.log(e["c"].cast("double")) * F.lit(float(ENTROPY_LN_SCALE))
            + F.lit(0.5)).cast("bigint")),
        F.lit(0).cast("bigint"),
    )
    ent = F.when(
        F.col("n_tokens") > 0,
        F.round(
            F.log(F.col("n_tokens").cast("double"))
            - F.col("__s").cast("double") / F.lit(float(ENTROPY_LN_SCALE))
              / F.col("n_tokens").cast("double"),
            4) + F.lit(0.0),
    ).otherwise(F.lit(0.0)).alias("entropy_nats")
    return (
        docs.select(F.col(id_col), n, types, s.alias("__s"))
        .select(id_col, "n_tokens", "n_types", ent)
    )


# ---------------------------------------------------------------------------
# Kneser–Ney bigram LM scorer — the principled top rung of the CCNet-style
# perplexity-filter ladder (uniform interpolation -> Laplace -> KN).  KN's
# continuation probability ("how many distinct contexts does this word
# follow?") separates fluent text from stuffed boilerplate better than raw
# frequency smoothing.
# ---------------------------------------------------------------------------
KN_DISCOUNT = 0.75  # exactly representable (3/4): both engines see one D
KN_LP_SCALE = 1_000_000_000  # per-token ln p quantized to 1e-9 nats


def kn_bigram_logprob_scores(df: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """(id, n_tokens, avg_logprob) under an interpolated Kneser–Ney bigram
    model with absolute discount D=0.75:

        p(w|prev) = max(c(prev,w) - D, 0)/c(prev)
                    + D·N1+(prev,·)/c(prev) · p_cont(w)
        p_cont(w) = (N1+(·,w) + 1) / (N_bigram_types + V + 1)

    (add-one smoothed continuation so first-token-only types never hit a
    zero), and a document's first token scores p_cont alone.

    Hash-parity: every model quantity is an integer count, p is ONE
    mirrored double expression per token, and per-token ln p is quantized
    to exact 1e-9-nat BIGINTs (KN_LP_SCALE) so the per-doc aggregate is an
    exact sum — the float-avg ordering trap cannot occur.

    Plan shape: the (id, prev, cur) stream materializes once; all four
    model tables (bigram counts, context totals, continuation counts, the
    1-row type totals) derive from it as short-key aggs.  Scoring joins
    bigram counts on (prev, cur) (equi-join, NOT forced broadcast — the
    bigram vocab grows with the corpus), context/continuation on single
    short keys, and broadcasts only the 1-row totals.  One id-keyed agg
    finishes.  Same join discipline as ``bigram_logprob_scores``."""
    from nonconsumptive_spark.functions.text import ngram_structs, tokenize
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    toks_arr = tokenize(text_col)
    pairs = df.select(
        id_col, F.explode(ngram_structs(toks_arr, 2)).alias("g")
    ).select(id_col, F.col("g.w0").alias("prev"), F.col("g.w1").alias("cur"))
    first = df.where(F.size(toks_arr) > 0).select(
        id_col,
        F.lit(None).cast("string").alias("prev"),
        F.element_at(toks_arr, 1).alias("cur"),
    )
    rows = materialize_once(pairs.unionByName(first), "kn_bigram_rows")

    big = (
        rows.filter(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count("*").cast("long").alias("c12"))
    )
    big = materialize_once(big, "kn_bigram_counts")
    ctx = big.groupBy("prev").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count("*").cast("long").alias("n1f"),
    )
    back = big.groupBy("cur").agg(F.count("*").cast("long").alias("n1b"))
    totals = big.agg(F.count("*").cast("long").alias("nbt")).crossJoin(
        rows.agg(F.count_distinct("cur").cast("long").alias("v"))
    )

    pc = (
        (F.coalesce("n1b", F.lit(0)) + F.lit(1.0))
        / (F.col("nbt") + F.col("v") + 1)
    )
    p = F.when(F.col("prev").isNull(), pc).otherwise(
        F.greatest(F.coalesce("c12", F.lit(0)) - F.lit(KN_DISCOUNT), F.lit(0.0))
        / F.col("c1")
        + F.lit(KN_DISCOUNT) * F.col("n1f") / F.col("c1") * pc
    )
    lq = F.floor(F.log(p) * F.lit(float(KN_LP_SCALE)) + F.lit(0.5)).cast("long")

    scored = (
        rows.join(big, ["prev", "cur"], "left")
        .join(ctx, ["prev"], "left")
        .join(back, ["cur"], "left")
        .crossJoin(F.broadcast(totals))
        .select(id_col, lq.alias("lq"))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("lq").cast("long").alias("s"),
    )
    avg = F.round(
        F.col("s").cast("double") / F.lit(float(KN_LP_SCALE)) / F.col("n_tokens"),
        4) + F.lit(0.0)
    return df.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.when(F.col("n_tokens") > 0, avg).otherwise(F.lit(0.0))
         .alias("avg_logprob"),
    )


def source_overlap_matrix(df: DataFrame, group_col: str = "source",
                          k: int = WINNOW_K, w: int = WINNOW_W,
                          text_col: str = "text") -> DataFrame:
    """(source_a, source_b, n_shared, jaccard): for every source pair, how
    many DISTINCT winnowing fingerprints the two sources share, and the
    Jaccard of their fingerprint sets — the corpus-mixing diagnostic
    ("which crawls are near-copies of each other?") that decides
    cap-per-source / temperature-mix weights upstream.

    Plan shape: per-source distinct fingerprint sets build with one
    short-key agg (the only corpus-sized shuffle); the intersection is a
    fingerprint equi-join between group-level sets (fan-out per
    fingerprint bounded by #sources, never by corpus rows); the complete
    pair spine is #sources^2 rows built from the tiny per-source size
    table, so zero-overlap pairs still appear.  The 4-decimal Jaccard is
    integer round-half-away — no float division feeds the compare."""
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    def sel_or_empty(t):
        return F.when(
            F.size(t) - (k + w - 2) >= 1, _winnow_selected(t, k, w)
        ).otherwise(F.array().cast("array<long>"))

    sel = materialize_once(
        df.select(group_col, let(tokenize(text_col), sel_or_empty).alias("fps"))
        .select(group_col, F.explode("fps").alias("fp"))
        .groupBy(group_col, "fp").agg(F.lit(1))
        .select(group_col, "fp"),
        "source_fps",
    )
    sizes = sel.groupBy(group_col).agg(F.count("*").cast("long").alias("nf"))
    a = sel.select(F.col(group_col).alias("source_a"), "fp")
    b = sel.select(F.col(group_col).alias("source_b"), "fp")
    inter = (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col(group_col).alias("source_a"),
                      F.col("nf").alias("na"))
    sb = sizes.select(F.col(group_col).alias("source_b"),
                      F.col("nf").alias("nb"))
    spine = sa.join(sb, F.col("source_a") < F.col("source_b"))
    return (
        spine.join(inter, ["source_a", "source_b"], "left")
        .select(
            "source_a", "source_b",
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            F.expr(
                "CASE WHEN na + nb - coalesce(n_shared, 0) > 0 THEN"
                " ((2 * 10000 * coalesce(n_shared, 0)"
                "   + (na + nb - coalesce(n_shared, 0)))"
                "  div (2 * (na + nb - coalesce(n_shared, 0))))"
                " / CAST(10000 AS DOUBLE)"
                " ELSE CAST(0 AS DOUBLE) END"
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# In-engine multinomial Naive Bayes classifier (the SQL-expressible stand-in
# for the fastText-style quality/domain classifiers every LLM curation
# pipeline runs — same train-on-corpus / score-every-doc shape as the DSIR
# and CCNet operators above; reference has no classifier surface).
NB_LP_SCALE = 1_000_000_000  # per-token ln p quantized to 1e-9 nats


def nb_lang_confusion(df: DataFrame, id_col: str = "doc_id",
                      label_col: str = "lang",
                      text_col: str = "text") -> DataFrame:
    """(actual, predicted, n_docs): confusion matrix of a multinomial
    Naive Bayes classifier trained on the corpus's own (label, token)
    counts and applied back to every document.

        score(d, l) = ln p(l) + sum_t tf(d,t) * ln p(t|l)
        p(t|l)      = (c(t,l) + 1) / (n_l + V + 1)     (Laplace, shared V)
        predicted   = argmax_l score, ties -> label asc

    Hash-parity: every model quantity is a BIGINT count; ln-terms are
    quantized to exact 1e-9-nat BIGINTs (NB_LP_SCALE) BEFORE the tf
    multiply and the per-(doc,label) sum, so no float ever accumulates in
    engine order and the argmax compares exact integers.

    Plan shape (100 TB): the corpus tokenizes ONCE into a per-doc tf table
    (the only corpus-sized shuffle, keyed (id, token)).  Scoring uses the
    missing-token decomposition

        s(d,l) = len(d) * lq0(l) + sum_{t in d, c(t,l)>0} tf * (lq - lq0)

    where lq0(l) is the quantized unseen-token log-prob (c=0 in the same
    IEEE chain) and lq(c) the seen one — exact BIGINT algebra, identical
    to summing tf*lq over ALL of the doc's tokens per label.  So tf joins
    the model INNER on the token key (only (token, label) pairs the model
    actually holds produce rows — no #labels fan-out of the tf stream),
    and per-doc/per-label totals assemble from the tiny broadcast
    (label, prior, lq0) table.  The argmax is a min(struct) hash agg
    (map-side combinable, no per-doc sort); the confusion agg is
    #labels^2-sized."""
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    tf = materialize_once(
        df.select(id_col, label_col, F.explode(tokenize(text_col)).alias("token"))
        .groupBy(id_col, label_col, "token")
        .agg(F.count("*").cast("long").alias("tf")),
        "nb_tf",
    )
    model = tf.groupBy(label_col, "token").agg(
        F.sum("tf").cast("long").alias("c")
    ).select(F.col(label_col).alias("model_lang"), "token", "c")
    model = materialize_once(model, "nb_model")
    tot = model.groupBy("model_lang").agg(F.sum("c").cast("long").alias("n_l"))
    voc = tf.agg(F.count_distinct("token").cast("long").alias("v"))
    n_total = df.agg(F.count("*").cast("long").alias("n_total"))
    pri = (
        df.groupBy(label_col).agg(F.count("*").cast("long").alias("n_docs_l"))
        .crossJoin(F.broadcast(n_total))
        .select(
            F.col(label_col).alias("model_lang"),
            F.floor(
                F.log(F.col("n_docs_l").cast("double") / F.col("n_total"))
                * F.lit(float(NB_LP_SCALE)) + F.lit(0.5)
            ).cast("long").alias("prior_q"),
        )
    )

    def _lq(c):
        # same IEEE chain as the pre-decomposition form: (c+1) cast to
        # double, divided by the long (n_l + v + 1), ln, scale, floor.
        return F.floor(
            F.log(
                (c + F.lit(1)).cast("double")
                / (F.col("n_l") + F.col("v") + 1)
            ) * F.lit(float(NB_LP_SCALE)) + F.lit(0.5)
        ).cast("long")

    # per-label scalar table: prior, and the unseen-token log-prob lq0
    # (exactly lq at c=0, so a model miss in the old left join == lq0).
    # Anchored on pri (EVERY label in df): a label whose docs are all
    # token-free has no tot row — its lq0 stays NULL and the len*lq0
    # term coalesces to 0 below, which is exactly what the
    # pre-decomposition form computed for it (score = prior alone).
    consts = (
        pri.join(tot, "model_lang", "left")
        .crossJoin(F.broadcast(voc))
        .select("model_lang", "prior_q", "n_l", "v",
                _lq(F.lit(0)).alias("lq0"))
    )
    # model rows carry (lq - lq0): the correction a SEEN token adds on
    # top of the unseen baseline.  Vocabulary-sized, never doc-sized.
    mdl = (
        model.join(F.broadcast(consts), "model_lang")
        .select("model_lang", "token",
                (_lq(F.col("c")) - F.col("lq0")).alias("dlq"))
    )
    delta = (
        tf.join(mdl, "token")
        .select(id_col, "model_lang", (F.col("tf") * F.col("dlq")).alias("term"))
        .groupBy(id_col, "model_lang")
        .agg(F.sum("term").cast("long").alias("ds"))
    )
    doclen = tf.groupBy(id_col).agg(F.sum("tf").cast("long").alias("len"))

    scored = (
        df.select(id_col, F.col(label_col).alias("actual"))
        .join(doclen, id_col, "left")  # empty/NULL text -> no tf rows
        .crossJoin(F.broadcast(consts.select("model_lang", "prior_q", "lq0")))
        .join(delta, [id_col, "model_lang"], "left")
        .select(
            id_col, "actual", "model_lang",
            (F.col("prior_q")
             + F.coalesce(F.coalesce("len", F.lit(0)) * F.col("lq0"),
                          F.lit(0))
             + F.coalesce("ds", F.lit(0))).alias("total"),
        )
    )
    # argmax_l total, ties -> label asc, as an order-free aggregate:
    # fieldwise struct min on (-total, label) == (total desc, label asc)
    pred = (
        scored.groupBy(id_col, "actual")
        .agg(F.min(F.struct((-F.col("total")).alias("nt"),
                            F.col("model_lang").alias("l"))).alias("w"))
    )
    return (
        pred.groupBy("actual", F.col("w.l").alias("predicted"))
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


# --------------------------------------------------------------------------
# RAKE keyword extraction (Rose et al. 2010): candidate phrases are maximal
# stopword-free token runs; a word's score is degree/frequency over the
# phrase co-occurrence graph; a phrase scores the sum of its member words.
RAKE_SCALE = 1_000_000  # word score deg/freq quantized via integer DIV
RAKE_K = 20


def _rake_phrases(text_col, stopwords: tuple[str, ...]):
    """text -> array<string> of maximal stopword-free token runs (the RAKE
    candidate phrases), lowercased.  Pure in-row expression."""
    stop_arr = F.array(*[F.lit(w) for w in stopwords])

    def cut(t):
        def stop_at(p):
            # F.get is 0-based and null-safe, so the p-1 / p+1 probes stay
            # legal at the array edges under ANSI sessions (the driver's
            # default) — null ORs away below.
            return F.array_contains(stop_arr, F.get(t, p - 1))

        starts = F.filter(
            F.sequence(F.lit(1), F.size(t)),
            lambda p: ~stop_at(p) & ((p == 1) | stop_at(p - 1)),
        )
        ends = F.filter(
            F.sequence(F.lit(1), F.size(t)),
            lambda p: ~stop_at(p) & ((p == F.size(t)) | stop_at(p + 1)),
        )
        phrases = F.zip_with(
            starts, ends,
            lambda s, e: F.concat_ws(" ", F.slice(t, s, e - s + 1)),
        )
        return F.when(F.size(t) > 0, phrases) \
                .otherwise(F.array().cast("array<string>"))

    lowered = F.transform(tokenize(text_col), lambda w: F.lower(w))
    return let(lowered, cut)


def rake_keywords(df: DataFrame, lang: str = "en", k: int = RAKE_K,
                  label_col: str = "lang",
                  text_col: str = "text") -> DataFrame:
    """(phrase, n_occ, score): top-k RAKE keyword phrases over the
    ``lang`` subcorpus.

        deg(w)  = sum of |phrase| over phrase occurrences containing w
        freq(w) = number of phrase occurrences containing w
        score(phrase) = sum_w  (SCALE * deg(w)) DIV freq(w)   (exact BIGINT)

    Member-word scores are quantized by integer division BEFORE the
    phrase sum, so ranking compares exact integers on both engines; the
    emitted double is one mirrored division of that integer.

    Plan shape (100 TB): phrase extraction is a zero-shuffle in-row
    expression; word stats are one short-key agg over exploded phrase
    members; phrase scores re-join members against the vocabulary-sized
    stats table on the word key and collapse in a phrase-key agg; the
    final cut is TakeOrderedAndProject (distributed partial top-k on
    (score desc, phrase asc) — total order, no global sort)."""
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    stopwords = LANG_STOPWORDS[lang]
    occ = materialize_once(
        df.filter(F.col(label_col) == lang)
        .select(F.explode(_rake_phrases(text_col, stopwords)).alias("phrase"))
        .filter(F.col("phrase") != ""),
        "rake_phrases",
    )
    members = occ.select(
        "phrase",
        F.size(F.split("phrase", " ")).cast("long").alias("plen"),
        F.explode(F.split("phrase", " ")).alias("word"),
    )
    word_stats = members.groupBy("word").agg(
        F.sum("plen").cast("long").alias("deg"),
        F.count("*").cast("long").alias("freq"),
    )
    phrase_occ = occ.groupBy("phrase").agg(
        F.count("*").cast("long").alias("n_occ")
    )
    phrase_score = (
        phrase_occ.select(
            "phrase", "n_occ", F.explode(F.split("phrase", " ")).alias("word")
        )
        .join(word_stats, "word")
        .groupBy("phrase", "n_occ")
        .agg(
            F.sum(
                F.expr(f"({RAKE_SCALE} * deg) div freq")
            ).cast("long").alias("score_q")
        )
    )
    return (
        phrase_score.orderBy(F.col("score_q").desc(), F.col("phrase").asc())
        .limit(k)
        .select(
            "phrase", "n_occ",
            (F.col("score_q").cast("double") / F.lit(float(RAKE_SCALE))
             + F.lit(0.0)).alias("score"),
        )
    )


# --------------------------------------------------------------------------
# Population Stability Index — the standard production data-drift metric
# over binned scalar features (complements q_js_divergence, which compares
# token distributions, and q_source_overlap_matrix, which compares content).
PSI_SCALE = 1_000_000_000_000  # per-bin term quantized to 1e-12
PSI_BINS = 10

# One mirrored expression string shared verbatim with the DuckDB oracle so
# the float product is computed in the identical order on both engines.
PSI_TERM_SQL = (
    "CAST(floor(((ca + 1) * 1.0 / (na + 10) - (cb + 1) * 1.0 / (nb + 10))"
    " * ln(((ca + 1) * (nb + 10)) * 1.0 / ((cb + 1) * (na + 10)))"
    " * 1000000000000.0 + 0.5) AS BIGINT)"
)


def psi_drift(df: DataFrame, value_col: str = "n_chars",
              group_col: str = "source") -> DataFrame:
    """(source_a, source_b, psi): pairwise Population Stability Index
    between per-group distributions of ``value_col`` over EXACT global
    deciles, add-one smoothed:

        psi = sum_bins (p_a - p_b) * ln(p_a / p_b),
        p_g = (c_g,bin + 1) / (n_g + 10)

    Hash-parity: decile edges come from the integer threshold
    (k*n + 9) div 10 over the value cum-distribution (no float fraction
    ever enters edge selection); bin counts and totals are BIGINTs; each
    bin's float term is ONE mirrored expression (PSI_TERM_SQL, shared
    verbatim with the oracle) quantized to 1e-12 units before the exact
    integer sum.

    Plan shape (100 TB): the cum-distribution window runs over DISTINCT
    values only (the winsorize trick); edges collapse to a 1-row
    broadcast; binning is a zero-shuffle row expression; everything after
    the (group, bin) agg is #groups x 10 rows, and the pair join is a
    #groups^2 expansion of that tiny frame."""
    vals = df.select(
        F.col(group_col).alias("src"), F.col(value_col).cast("long").alias("v")
    )
    n1 = vals.agg(F.count("*").cast("long").alias("n"))
    dist = vals.groupBy("v").agg(F.count("*").cast("long").alias("c"))
    from pyspark.sql import Window

    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow)
    cum = dist.select("v", F.sum("c").over(w).alias("cum"))
    edges_row = cum.crossJoin(F.broadcast(n1)).agg(*[
        F.min(
            F.when(
                F.col("cum")
                >= F.expr(f"({k} * n + {PSI_BINS - 1}) div {PSI_BINS}"),
                F.col("v"),
            )
        ).alias(f"e{k}")
        for k in range(1, PSI_BINS)
    ]).select(F.array(*[f"e{k}" for k in range(1, PSI_BINS)]).alias("es"))

    binned = vals.crossJoin(F.broadcast(edges_row)).select(
        "src",
        (F.size(F.filter(F.col("es"), lambda e: F.col("v") > e)) + 1)
        .alias("bin"),
    )
    counts = binned.groupBy("src", "bin").agg(
        F.count("*").cast("long").alias("c")
    )
    srcs = vals.groupBy("src").agg(F.count("*").cast("long").alias("n"))
    bins = df.sparkSession.range(1, PSI_BINS + 1).select(
        F.col("id").cast("int").alias("bin")
    )
    spine = srcs.crossJoin(F.broadcast(bins))
    full = spine.join(counts, ["src", "bin"], "left").select(
        "src", "bin", "n", F.coalesce("c", F.lit(0)).cast("long").alias("c")
    )
    a = full.select(F.col("src").alias("source_a"), "bin",
                    F.col("c").alias("ca"), F.col("n").alias("na"))
    b = full.select(F.col("src").alias("source_b"), "bin",
                    F.col("c").alias("cb"), F.col("n").alias("nb"))
    pairs = a.join(b, "bin").filter(F.col("source_a") < F.col("source_b"))
    return (
        pairs.select("source_a", "source_b",
                     F.expr(PSI_TERM_SQL).alias("t"))
        .groupBy("source_a", "source_b")
        .agg(F.sum("t").cast("long").alias("psi_q"))
        .select(
            "source_a", "source_b",
            (F.col("psi_q").cast("double") / F.lit(float(PSI_SCALE))
             + F.lit(0.0)).alias("psi"),
        )
    )


# -- Burrows' Delta stylometry ---------------------------------------------
# Authorship/style distance between corpus slices (Burrows 2002): z-score
# each slice's relative frequency of the M most frequent words against the
# across-slice distribution, Delta = mean |z_a - z_b| over the M words.
# Hash-parity design (the dsir_weights integer playbook): relative
# frequencies are quantized to exact BIGINTs with integer division
# (c * 10^9 div T — both engines truncate identically), the z numerator
# and denominator are built from exact integer moments, and z itself is
# re-quantized (floor(z * 10^6)) before the cross-slice sum so no float
# accumulation order ever reaches the output.
DELTA_TOP_M = 20
DELTA_FSCALE = 1_000_000_000
DELTA_ZSCALE = 1_000_000


def burrows_delta(docs, group_col: str = "source", text_col: str = "text",
                  top_m: int = DELTA_TOP_M):
    """Pairwise Burrows' Delta between values of ``group_col``.

    Plan: ONE (group, token) count shuffle; the marker-word list is a
    TakeOrdered top-M broadcast; the (group x marker) grid, per-word
    moments, and the pair join are all bounded by groups x M — corpus
    size only touches the first aggregation.  Returns (source_a,
    source_b, delta) with source_a < source_b.
    """
    from pyspark.sql import functions as F

    from nonconsumptive_spark.functions.text import tokenize
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    cells = (
        docs.select(F.col(group_col).alias("g"),
                    F.explode(tokenize(text_col)).alias("token"))
        .groupBy("g", "token")
        .agg(F.count("*").cast("long").alias("c"))
    )
    cells = materialize_once(cells, "delta_cells")

    totals = cells.groupBy("g").agg(F.sum("c").cast("long").alias("t"))
    markers = (
        cells.groupBy("token").agg(F.sum("c").cast("long").alias("gc"))
        .orderBy(F.desc("gc"), F.asc("token"))
        .limit(top_m)
        .select("token")
    )
    # dense (group x marker) grid so absent words contribute fq = 0
    grid = (
        totals.crossJoin(F.broadcast(markers))
        .join(cells, ["g", "token"], "left")
        .select("g", "token", "t", F.coalesce("c", F.lit(0)).alias("c"))
        .selectExpr("g", "token",
                    f"(c * {DELTA_FSCALE}L) div t AS fq")
    )
    grid = materialize_once(grid, "delta_grid")

    mom = grid.groupBy("token").agg(
        F.count("*").cast("long").alias("s"),
        F.sum("fq").cast("long").alias("sf"),
        F.sum(F.col("fq") * F.col("fq")).cast("long").alias("sff"),
    )
    z = (
        grid.join(F.broadcast(mom), "token")
        .selectExpr(
            "g", "token",
            "CASE WHEN s * sff - sf * sf > 0"
            f" THEN CAST(floor(CAST(s * fq - sf AS DOUBLE)"
            f"      / sqrt(CAST(s * sff - sf * sf AS DOUBLE))"
            f"      * {DELTA_ZSCALE}) AS BIGINT)"
            " ELSE 0L END AS zq",
        )
    )
    a = z.select(F.col("g").alias("source_a"), "token",
                 F.col("zq").alias("za"))
    b = z.select(F.col("g").alias("source_b"), "token",
                 F.col("zq").alias("zb"))
    return (
        a.join(b, "token")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.abs(F.col("za") - F.col("zb"))).cast("long").alias("sd"))
        .selectExpr(
            "source_a", "source_b",
            f"round(CAST(sd AS DOUBLE) / ({top_m}.0 * {DELTA_ZSCALE}), 4)"
            " + 0.0 AS delta")
    )


def priority_sample_by_group(df, group_col: str, weight_col: str, k: int,
                             id_col: str = "doc_id"):
    """Per-stratum weight-proportional priority sample: within each
    ``group_col`` value keep the top-``k`` rows by the
    Duffield-Lund-Thorup priority w/u, with u derived from the id's md5
    (engine-portable: only IEEE-exact or correctly-rounded ops — the
    q_weighted_sample argument, per group).  The window is PARTITIONED
    by group, so parallelism is #groups and no global sort exists."""
    from pyspark.sql import Window, functions as F

    from nonconsumptive_spark.operators.dedup import _md5_long

    pow2 = float(1 << 60)
    pri = df.filter(F.col(weight_col) > 0).withColumn(
        "_p",
        F.col(weight_col).cast("double")
        / ((_md5_long(F.col(id_col).cast("string")) + 1) / F.lit(pow2)),
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("_p"), F.asc(id_col))
    return (
        pri.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_p", "_rk")
    )


def k_anonymity_report(df, quasi_cols: list[str], k: int = 5):
    """Per-equivalence-class k-anonymity report over the quasi-identifier
    columns: (class values..., class_size, is_risky) plus suppression
    accounting — the release-safety check a data publisher runs before
    sharing metadata (a class smaller than ``k`` re-identifies its
    members).  One groupBy on the quasi columns; nothing else scales
    with the corpus."""
    from pyspark.sql import functions as F

    classes = df.groupBy(*quasi_cols).agg(
        F.count("*").cast("long").alias("class_size"))
    return classes.withColumn("is_risky", F.col("class_size") < k)


def k_anonymity_summary(df, quasi_cols: list[str], k: int = 5):
    """1-row rollup of the report: classes, risky classes, rows that
    would need suppression, and the suppression fraction (4 decimals)."""
    from pyspark.sql import functions as F

    rep = k_anonymity_report(df, quasi_cols, k)
    return rep.agg(
        F.count("*").cast("long").alias("n_classes"),
        F.sum(F.col("is_risky").cast("long")).cast("long")
        .alias("risky_classes"),
        F.sum(F.when(F.col("is_risky"), F.col("class_size")).otherwise(0))
        .cast("long").alias("rows_to_suppress"),
        F.sum("class_size").cast("long").alias("n_rows"),
    ).selectExpr(
        "n_classes", "risky_classes", "rows_to_suppress", "n_rows",
        "round(CAST(rows_to_suppress AS DOUBLE) / n_rows, 4) + 0.0"
        " AS suppress_frac",
    )


def percentile_filter_by_group(df, group_col: str, score_col: str,
                               keep_frac: float, id_col: str = "doc_id"):
    """Keep the top ``keep_frac`` of rows BY SCORE WITHIN EACH GROUP —
    per-source quality thresholding.  A single global score cutoff
    over-prunes whole domains whose score distribution sits low (the
    classic curation failure: one boilerplate-heavy source calibrates
    the bar for everyone); ranking within the group makes the threshold
    distribution-free per source.

    Exact rank semantics: a row survives iff its (score desc, id asc)
    rank within the group is <= ceil(keep_frac * group_size) — ties
    broken on id so the kept SET is deterministic and engine-portable
    (no float percent_rank boundary ever reaches the decision).  The
    window partitions BY GROUP: parallelism is #groups and per-group
    state is one counter, never a global sort.
    """
    from pyspark.sql import Window, functions as F

    if not (0.0 < keep_frac <= 1.0):
        raise ValueError("keep_frac must be in (0, 1]")
    # exact rational keep_frac = p/q so ceil never drifts over a float
    from fractions import Fraction

    fr = Fraction(str(keep_frac)).limit_denominator(10**6)
    p, q = fr.numerator, fr.denominator
    w = Window.partitionBy(group_col).orderBy(
        F.desc(score_col), F.asc(id_col))
    cnt = Window.partitionBy(group_col)
    quota = -F.floor((-F.lit(p) * F.count("*").over(cnt)) / q)  # ceil(p*n/q)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .withColumn("_quota", quota.cast("long"))
        .filter(F.col("_rk") <= F.col("_quota"))
        .drop("_rk", "_quota")
    )


def compression_ratio(df, id_col: str = "doc_id", text_col: str = "text",
                      level: int = 6):
    """zlib-compressibility quality signal per document: (id, n_bytes,
    comp_bytes, ratio) with ratio = compressed/raw rounded to 4 decimals
    — the standard cheap proxy for boilerplate and low-entropy spam
    (highly repetitive pages compress far below natural prose, random
    noise compresses above it; curation keeps a middle band).

    No JVM built-in exposes a compressor as an expression, so this is
    the sanctioned Python path: an Arrow-batched pandas_udf calling
    C-implemented ``zlib.compress`` once per value — a pure narrow map,
    zero shuffle, trivially parallel.  Deterministic for a fixed level,
    so results are reproducible run-to-run (zlib output can differ
    across zlib BUILDS — treat stored ratios as advisory across
    environments, exact within one).  NULL text ratios are NULL.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    # raw byte length is a JVM built-in (octet_length); only the
    # compressed size needs the Python worker
    @pandas_udf("long")
    def _comp(s: pd.Series) -> pd.Series:
        import zlib

        return s.map(lambda v: None if v is None
                     else len(zlib.compress(v.encode("utf-8"), level)))

    return df.select(
        id_col,
        F.octet_length(text_col).cast("long").alias("n_bytes"),
        _comp(F.col(text_col)).alias("comp_bytes"),
    ).select(
        id_col, "n_bytes", "comp_bytes",
        F.when(
            F.col("n_bytes") > 0,
            F.round(F.col("comp_bytes") / F.col("n_bytes"), 4) + 0.0,
        ).alias("ratio"),
    )


CODE_DENSITY_DEN = 50  # codey when 50 * marker_count >= n_chars (2% density)


def code_score(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Code-likeness curation signal — the prose/code separator every LLM
    data mixture needs (C4/Gopher-class pipelines route code-looking
    prose out of the text stream; code corpora route it in).  Markers:
    brace characters, semicolons, camelCase transitions, and 4-space
    indent runs after a newline.  Every count is exact integer
    arithmetic over the raw string (replace-length deltas + one
    regexp_count with an engine-portable pattern), and the verdict is an
    integer cross-multiplication — no floats anywhere, so the oracle
    hash can never drift.  NULL text counts as empty (hygiene-family
    convention).  Plan: zero-shuffle row-local scan."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(t)

    def occurrences(sub: str):
        return (n_chars - F.length(F.replace(t, F.lit(sub), F.lit("")))) \
            / len(sub)

    n_braces = occurrences("{") + occurrences("}")
    n_semi = occurrences(";")
    n_camel = F.regexp_count(t, F.lit("[a-z][A-Z]"))
    n_indent = occurrences("\n    ")
    markers = (n_braces + n_semi + n_camel + n_indent).cast("long")
    return df.select(
        id_col,
        n_chars.cast("long").alias("n_chars_obs"),
        n_braces.cast("long").alias("n_braces"),
        n_semi.cast("long").alias("n_semicolons"),
        n_camel.cast("long").alias("n_camel"),
        n_indent.cast("long").alias("n_indent"),
        ((markers * CODE_DENSITY_DEN >= n_chars) & (n_chars > 0))
        .alias("is_codey"),
    )


TILE_W = 20          # tokens per cohesion block
TILE_SCALE = 10**6   # cos^2 quantum


def lexical_cohesion_gaps(df: DataFrame, block_w: int = TILE_W,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """(doc_id, gap_idx, cos2_q, is_boundary): TextTiling-style lexical
    cohesion segmentation (Hearst 1997, simplified) — score every gap
    between adjacent ``block_w``-token blocks by the bag-of-words
    similarity of its two sides; a STRICT local minimum marks a topic
    boundary.  This is the content-aware chunker for long-document
    training windows (``sliding_chunks`` cuts at fixed offsets; this
    cuts where the vocabulary actually shifts).

    Exactness: the gap score is cos² as an exact integer rational —
    ``(dot² * SCALE) div (|A|²·|B|²)`` over integer token counts — so no
    float exists anywhere and boundary decisions are engine-exact.
    cos² is monotone in cosine on [0, 1], which is the whole range here
    (counts are non-negative), so minima are preserved.

    Plan: ONE let-bound tokenize per row and everything else in-row
    (slice/distinct/filter folds over ≤ 2·block_w-token windows) —
    zero-shuffle scan; the per-gap work is O(block_w²), independent of
    document length."""
    toks = tokenize(text_col)

    def gaps(ts):
        n_gaps = F.greatest(F.size(ts) / block_w - 1, F.lit(0)).cast("int")

        def gap_struct(i):
            a = F.slice(ts, (i - 1) * block_w + 1, block_w)
            b = F.slice(ts, i * block_w + 1, block_w)

            def count_in(arr):
                return lambda t: F.size(F.filter(arr, lambda x: x == t))

            u = F.array_distinct(F.concat(a, b))
            dot = F.aggregate(
                u, F.lit(0).cast("long"),
                lambda acc, t: acc + (count_in(a)(t) * count_in(b)(t))
                .cast("long"))
            na2 = F.aggregate(
                F.array_distinct(a), F.lit(0).cast("long"),
                lambda acc, t: acc + (count_in(a)(t) * count_in(a)(t))
                .cast("long"))
            nb2 = F.aggregate(
                F.array_distinct(b), F.lit(0).cast("long"),
                lambda acc, t: acc + (count_in(b)(t) * count_in(b)(t))
                .cast("long"))
            # raw integer moments only — the quantized cos² needs SQL
            # `div` (exact integer division), which cannot be spelled on
            # a HOF lambda variable, so the division happens post-explode
            return F.struct(
                i.cast("long").alias("gap_idx"),
                dot.alias("dot"), na2.alias("na2"), nb2.alias("nb2"),
            )

        return F.transform(F.sequence(F.lit(1), n_gaps),
                           lambda i: gap_struct(i))

    scored = df.select(
        id_col,
        let(toks, lambda ts: F.when(F.size(ts) >= 2 * block_w, gaps(ts))
            .otherwise(F.array().cast(
                "array<struct<gap_idx:bigint,dot:bigint,"
                "na2:bigint,nb2:bigint>>"))).alias("g"),
    )
    out = scored.select(id_col, F.explode("g").alias("s")).select(
        id_col, "s.gap_idx",
        F.expr(f"CASE WHEN s.na2 * s.nb2 > 0 THEN "
               f"(s.dot * s.dot * {TILE_SCALE}) div (s.na2 * s.nb2) "
               f"ELSE 0 END").cast("long").alias("cos2_q"))
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("gap_idx")
    prev, nxt = F.lag("cos2_q").over(w), F.lead("cos2_q").over(w)
    return out.select(
        id_col, "gap_idx", "cos2_q",
        (prev.isNotNull() & nxt.isNotNull()
         & (F.col("cos2_q") < prev) & (F.col("cos2_q") < nxt))
        .alias("is_boundary"),
    )


def bigram_conditional_entropy(docs: DataFrame, id_col: str = "doc_id",
                               text_col: str = "text") -> DataFrame:
    """One-row corpus statistic (n_bigrams, n_contexts, h_cond_bits): the
    conditional entropy H(W₂|W₁) of the corpus bigram distribution — how
    predictable the next token is given the current one.  Low values flag
    templated/boilerplate-heavy corpora; the H(W)−H(W₂|W₁) gap is the
    first-order redundancy a training run can exploit (complements the
    per-doc token-entropy operator above).

    Identity used: H(W₂|W₁) = (Σ c₁·log₂c₁ − Σ c₁₂·log₂c₁₂) / N, where c₁
    are CONTEXT counts (bigram lefts, not raw unigrams — last tokens of
    documents have no successor).  log₂ terms quantize to ENT_SCALE units
    immediately; the weighted sums run in decimal(38,0) (Spark) / HUGEINT
    (DuckDB) so they stay exact far past the 2⁶³ overflow point a 100-TB
    corpus would hit — one fused zero-shuffle per-doc count, one global
    bigram agg, two 1-row aggregate attaches."""
    from nonconsumptive_spark.operators.wordcount import ngram_counts
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    bg = materialize_once(
        ngram_counts(docs, 2, id_col, text_col)
        .groupBy("w0", "w1")
        .agg(F.sum("count").alias("c12")),
        "ce_bigrams",
    )

    def lg(c):
        return F.round(F.log2(c) * F.lit(ENT_SCALE)).cast("long")

    def dsum(col):
        return F.sum(col.cast("decimal(38,0)"))

    hb = bg.agg(
        dsum(F.col("c12") * lg(F.col("c12"))).alias("hq_bi"),
        F.sum("c12").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_bigrams"),
    )
    hc = (
        bg.groupBy("w0")
        .agg(F.sum("c12").alias("c1"))
        .agg(
            dsum(F.col("c1") * lg(F.col("c1"))).alias("hq_ctx"),
            F.count("*").cast("long").alias("n_contexts"),
        )
    )
    return hb.crossJoin(hc).select(  # two 1-row aggregates
        "n_bigrams",
        "n_contexts",
        (
            F.round(
                (F.col("hq_ctx") - F.col("hq_bi")).cast("double")
                / (F.col("n").cast("double") * F.lit(float(ENT_SCALE))),
                6,
            )
            + F.lit(0.0)
        ).alias("h_cond_bits"),
    )


def shuffle_quality(docs: DataFrame, seed: int = 42, n_shards: int = 16,
                    id_col: str = "doc_id",
                    label_col: str = "source") -> DataFrame:
    """One-row shuffle diagnostic for the deterministic training order:
    (n_pairs, n_same, same_rate, expected_rate, clumping).

    A bad shuffle feeds the optimizer runs of same-source documents and
    training quality degrades (the motivation for training_order in the
    first place) — this measures it: among within-shard ADJACENT pairs of
    the order, how often do both docs share ``label_col``, versus the
    independence baseline Σ nₛ(nₛ−1)/(N(N−1)) a truly random permutation
    would give?  ``clumping`` ≈ 1 means the order mixes sources as well
    as random; ≫ 1 means source runs survived the shuffle.

    All counts are exact integers off two aggregates (one over lag pairs
    in the shard windows the order already uses, one over the source
    histogram); the three output ratios are each a fixed chain of IEEE
    divides of exact integers, rounded at emit."""
    ordered = training_order(docs, seed=seed, n_shards=n_shards,
                             id_col=id_col)
    from pyspark.sql.window import Window

    lab = docs.select(id_col, F.col(label_col).alias("_lab"))
    w = Window.partitionBy("shard").orderBy("pos")
    pairs = (
        ordered.join(lab, id_col)
        .select("shard", "pos", "_lab",
                F.lag("_lab").over(w).alias("_prev"))
        .where(F.col("_prev").isNotNull())
    )
    obs = pairs.agg(
        F.count("*").alias("n_pairs"),
        F.sum((F.col("_lab") == F.col("_prev")).cast("long")).alias("n_same"),
    )
    hist = lab.groupBy("_lab").agg(F.count("*").alias("ns"))
    exp = hist.agg(
        F.sum(F.col("ns") * (F.col("ns") - 1)).alias("same_ways"),
        F.sum("ns").alias("n"),
    )
    same_rate = F.col("n_same").cast("double") / F.col("n_pairs").cast("double")
    exp_rate = (
        F.col("same_ways").cast("double")
        / (F.col("n").cast("double") * (F.col("n").cast("double") - F.lit(1.0)))
    )
    return obs.crossJoin(exp).select(  # two 1-row aggregates
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_same").cast("long").alias("n_same"),
        (F.round(same_rate, 6) + F.lit(0.0)).alias("same_rate"),
        (F.round(exp_rate, 6) + F.lit(0.0)).alias("expected_rate"),
        (F.round(same_rate / exp_rate, 4) + F.lit(0.0)).alias("clumping"),
    )


def mixture_budget(docs: DataFrame, budget_tokens: int,
                   stratum_col: str = "source",
                   text_col: str = "text") -> DataFrame:
    """Token-budget allocation under temperature mixing: per source,
    (n_docs, n_tokens, mix_frac, target_tokens, epochs, sample_rate).

    temperature_mix says WHAT fraction of the training mix each source
    should be; this prices it against a concrete token budget: target_s =
    mix_frac_s·B, epochs_s = target_s / available_s (> 1 means the source
    repeats — the standard small-source upsampling), sample_rate_s =
    min(1, epochs_s) for the sources that must be downsampled instead.
    The table a mixing job reads before writing sampling configs.

    One stratum-keyed (count, token-sum) aggregate + one #strata-row
    normalizer attach; sqrt is IEEE-correctly-rounded everywhere so the
    weight chain replays bit-for-bit (same argument as temperature_mix)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    per = docs.groupBy(stratum_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokenize(t)).cast("long")).alias("n_tokens"),
    )
    tot = per.agg(F.sum(F.sqrt("n_docs")).alias("z"))
    frac = F.sqrt("n_docs") / F.col("z")
    target = frac * F.lit(float(budget_tokens))
    epochs = target / F.col("n_tokens").cast("double")
    return per.crossJoin(F.broadcast(tot)).select(  # 1-row normalizer attach
        stratum_col,
        "n_docs",
        "n_tokens",
        (F.round(frac, 6) + F.lit(0.0)).alias("mix_frac"),
        F.round(target).cast("long").alias("target_tokens"),
        (F.round(epochs, 4) + F.lit(0.0)).alias("epochs"),
        (F.round(F.least(F.lit(1.0), epochs), 6) + F.lit(0.0)).alias(
            "sample_rate"
        ),
    )


def source_kl_divergence(df, stratum_col: str = "source",
                         text_col: str = "text"):
    """(stratum, n_tokens, v, kl) — KL(p_stratum || p_corpus) of the
    add-1-smoothed unigram distributions, per stratum: the one-number
    "how far does this source's language drift from the mixture" signal
    that ranks sources for curation attention (the directional companion
    to pairwise unigram_js_divergence).

    Same hash-parity discipline as JSD: per-token contributions
    p*ln(p/q) come from exact integer counts with a verbatim-mirrored
    expression, quantize to 1e-12-nat integers, and sum as BIGINTs —
    order-independent, so the 6-decimal output rounding is safe.

    Plan: ONE (stratum, token) agg over the corpus (the only
    corpus-sized shuffle); corpus totals re-derive from it by a
    vocabulary-sized re-agg; per-stratum scalars re-attach by broadcast.
    Nothing bigger than the vocabulary moves after the first agg."""
    from pyspark.sql import functions as F

    from nonconsumptive_spark.functions.text import tokenize
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    cnt = materialize_once(
        df.select(F.col(stratum_col).alias("s"),
                  F.explode(tokenize(text_col)).alias("w"))
        .groupBy("s", "w")
        .agg(F.count("*").cast("bigint").alias("c")),
        "skl_counts",
    )
    corpus = cnt.groupBy("w").agg(F.sum("c").cast("bigint").alias("c_all"))
    vocab_tot = corpus.agg(
        F.count("*").cast("bigint").alias("v"),
        F.sum("c_all").cast("bigint").alias("n_all"),
    )
    strata = cnt.groupBy("s").agg(F.sum("c").cast("bigint").alias("n_s"))
    # stratum x corpus-vocab frame (zero-count tokens still contribute)
    full = (
        corpus.join(F.broadcast(strata.select("s")), F.lit(True))
        .join(cnt, ["s", "w"], "left")
        .select("s", "w", "c_all",
                F.coalesce("c", F.lit(0)).cast("bigint").alias("c_s"))
        .join(F.broadcast(strata), "s")
        .join(F.broadcast(vocab_tot), F.lit(True))
    )
    p = (F.col("c_s") + 1) / (F.col("n_s") + F.col("v"))
    q = (F.col("c_all") + 1) / (F.col("n_all") + F.col("v"))
    term = p * F.log(p / q)
    return (
        full.groupBy(F.col("s").alias(stratum_col))
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.max("v").alias("v"),
            F.sum(F.round(term * F.lit(JSD_SCALE)).cast("bigint"))
            .alias("sum_q"),
        )
        .select(
            stratum_col, "n_tokens", "v",
            (F.round(F.col("sum_q").cast("double") / F.lit(JSD_SCALE), 6)
             + F.lit(0.0)).alias("kl"),
        )
    )
