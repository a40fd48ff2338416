"""Text-analysis queries (language ID, quality, token counts, fingerprints)
— the training-data-pipeline extension surface, oracle-checked.
"""

from __future__ import annotations

from nonconsumptive_spark.operators import textstats as ts
from nonconsumptive_spark.queries import load, register


def _stoplist_sql(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in ts.LANG_STOPWORDS[lang]) + "]"


_DUCK_TOKS = "list_filter(regexp_split_to_array(text, '[^\\pL]+'), x -> x <> '')"


# --------------------------------------------------------------------------
@register(
    "q_token_count_ws",
    oracle=f"""
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT)
             AS n_ws_tokens
    FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents) documents
    """,
    doc="Whitespace token counting (training-data pipeline op); NULL text "
        "counts as empty.",
)
def q_token_count_ws(spark, sf_dir):
    return ts.token_count_ws(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_repetition_scores",
    oracle=f"""
    WITH docs0 AS (
      SELECT doc_id, coalesce(text, '') AS text FROM documents),
    lines AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\n'), x -> x <> '') AS ls
      FROM docs0),
    line_stats AS (
      SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
             CASE WHEN len(ls) > 0
                  THEN round(1.0 - len(list_distinct(ls)) * 1.0 / len(ls), 4)
                  ELSE 0.0 END AS dup_line_frac
      FROM lines),
    tokpos AS (
      SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
             unnest({_DUCK_TOKS}) AS token
      FROM docs0),
    bg AS (
      SELECT doc_id, w0 || ' ' || w1 AS gram FROM (
        SELECT doc_id, token AS w0,
               lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        FROM tokpos) z
      WHERE w1 IS NOT NULL),
    bgc AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY doc_id, gram),
    bgs AS (
      SELECT doc_id, sum(c) AS tot, max(c) AS top, count(*) AS nd
      FROM bgc GROUP BY doc_id)
    SELECT l.doc_id, l.n_lines, l.dup_line_frac,
           coalesce(round(1.0 - b.nd * 1.0 / b.tot, 4), 0.0) AS dup_bigram_frac,
           coalesce(round(b.top * 1.0 / b.tot, 4), 0.0) AS top_bigram_frac
    FROM line_stats l LEFT JOIN bgs b ON l.doc_id = b.doc_id
    """,
    doc="Repetition quality signals (Gopher-family filters): duplicate-line "
        "fraction, duplicate-bigram fraction, top-bigram dominance.  Spark "
        "computes them inside per-row arrays (sorted run-length fold for "
        "the mode — zero shuffle); the oracle uses the explode+groupBy "
        "formulation.",
)
def q_repetition_scores(spark, sf_dir):
    return ts.repetition_scores(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_decontamination",
    oracle=f"""
    WITH tokpos AS (
      SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
             unnest({_DUCK_TOKS}) AS token
      FROM documents),
    shingles AS (
      SELECT DISTINCT doc_id, w0 || ' ' || w1 || ' ' || w2 AS shingle
      FROM (
        SELECT doc_id, token AS w0,
               lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
               lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM tokpos) z
      WHERE w2 IS NOT NULL),
    eval_sh AS (SELECT DISTINCT shingle FROM shingles WHERE doc_id < 10),
    overlap AS (
      SELECT s.doc_id, count(DISTINCT s.shingle) AS n
      FROM shingles s JOIN eval_sh e USING (shingle)
      GROUP BY s.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(o.n, 0) AS BIGINT) AS n_overlap_shingles,
           coalesce(o.n, 0) >= 5 AS is_contaminated
    FROM documents d LEFT JOIN overlap o USING (doc_id)
    """,
    doc="Benchmark decontamination: docs sharing ≥5 distinct 3-shingles "
        "with the eval set (docs 0-9 stand in for a benchmark) are flagged "
        "— the test-set-leakage guard every training pipeline runs.  Eval "
        "shingles broadcast; the corpus never self-joins.",
)
def q_decontamination(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    from pyspark.sql import functions as F

    return ts.decontaminate(
        docs, docs.filter(F.col("doc_id") < 10), overlap_threshold=5
    )


# --------------------------------------------------------------------------
_MIX_FRACTIONS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
_MIX_VALUES = ", ".join(f"('{s}', {f})" for s, f in _MIX_FRACTIONS.items())


@register(
    "q_hash_sample",
    oracle=f"""
    WITH frac(source, f) AS (VALUES {_MIX_VALUES})
    SELECT d.doc_id, d.source
    FROM documents d JOIN frac USING (source)
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          % 10000 < f * 10000
    """,
    doc="Deterministic stratified sampling for training-data mixing: keep "
        "a doc iff md5(doc_id) mod 10000 clears its source's rate — a pure "
        "function of the row, so the mixture is reproducible across "
        "engines, runs, and cluster sizes (unlike RNG sample()).  DuckDB "
        "recomputes the identical hash decision row by row.",
)
def q_hash_sample(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return ts.hash_sample(docs, _MIX_FRACTIONS).select("doc_id", "source")


# --------------------------------------------------------------------------
_SPLIT_WEIGHTS = (("train", 98), ("val", 1), ("test", 1))
_SPLIT_TOTAL = sum(w for _, w in _SPLIT_WEIGHTS)
_SPLIT_CASE = "CASE " + " ".join(
    f"WHEN b < {(cum * 10000) // _SPLIT_TOTAL} THEN '{name}'"
    for cum, name in zip(
        [sum(w for _, w in _SPLIT_WEIGHTS[: i + 1]) for i in range(len(_SPLIT_WEIGHTS) - 1)],
        [n for n, _ in _SPLIT_WEIGHTS[:-1]],
    )
) + f" ELSE '{_SPLIT_WEIGHTS[-1][0]}' END"


@register(
    "q_dataset_split",
    oracle=f"""
    SELECT doc_id, {_SPLIT_CASE} AS split
    FROM (SELECT doc_id,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                 % 10000 AS b
          FROM documents)
    """,
    doc="Deterministic 98/1/1 train/val/test split: md5(doc_id) mod 10000 "
        "against exact integer band edges — a document never migrates "
        "between splits across runs, engines, or corpus growth, which is "
        "what keeps eval sets uncontaminated.  Pure row function, zero "
        "shuffle.",
)
def q_dataset_split(spark, sf_dir):
    return ts.dataset_split(load(spark, sf_dir, "documents"), _SPLIT_WEIGHTS)


# --------------------------------------------------------------------------
@register(
    "q_temperature_mix",
    oracle="""
    WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    z AS (SELECT sum(sqrt(n_docs)) AS z FROM c)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           round(sqrt(n_docs) / (SELECT z FROM z), 6) AS mix_frac
    FROM c
    """,
    doc="Alpha=0.5 temperature mixture weights per source "
        "(mix_frac = sqrt(n)/sum sqrt(n), the up-weight-small-sources rule). "
        "sqrt is IEEE-correctly-rounded in both engines (pow is not, which "
        "is why alpha is fixed at 1/2); movement is one (source, count) "
        "agg.",
)
def q_temperature_mix(spark, sf_dir):
    return ts.temperature_mix(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_obs,
           CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens,
           round(CASE WHEN len({_DUCK_TOKS}) > 0
                 THEN length(regexp_replace(text, '[^\\pL]', '', 'g')) * 1.0 / len({_DUCK_TOKS})
                 ELSE 0.0 END, 4) AS mean_word_len,
           round(CASE WHEN length(text) > 0
                 THEN length(regexp_replace(text, '[^\\pL]', '', 'g')) * 1.0 / length(text)
                 ELSE 0.0 END, 4) AS alpha_ratio,
           round(CASE WHEN len({_DUCK_TOKS}) > 0
                 THEN len(list_filter({_DUCK_TOKS}, t -> list_contains({_stoplist_sql("en")}, lower(t)))) * 1.0
                      / len({_DUCK_TOKS})
                 ELSE 0.0 END, 4) AS stopword_ratio
    FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents) documents
    """,
    doc="Quality-scoring features: length, alpha ratio, stopword ratio; "
        "NULL text counts as empty.",
)
def q_quality_score(spark, sf_dir):
    return ts.quality_score(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
_LANGS = sorted(ts.LANG_STOPWORDS)
_HIT_EXPRS = ",\n".join(
    f"           len(list_filter({_DUCK_TOKS}, t -> list_contains({_stoplist_sql(lg)}, lower(t)))) AS hits_{lg}"
    for lg in _LANGS
)
_CASE_PRED = "CASE WHEN m = 0 THEN 'und' " + " ".join(
    f"WHEN hits_{lg} = m THEN '{lg}'" for lg in _LANGS
) + " END"


@register(
    "q_lang_id",
    oracle=f"""
    SELECT doc_id,
           {_CASE_PRED} AS pred_lang,
           CAST(m AS BIGINT) AS stopword_hits
    FROM (
      SELECT doc_id, greatest({", ".join("hits_" + lg for lg in _LANGS)}) AS m,
             {", ".join("hits_" + lg for lg in _LANGS)}
      FROM (
        SELECT doc_id,
{_HIT_EXPRS}
        FROM (SELECT doc_id, coalesce(text, '') AS text
              FROM documents) documents))
    """,
    doc="Stopword-vote language ID with alphabetical tie-break; 'und' when "
        "no stopwords hit; NULL text counts as empty.",
)
def q_lang_id(spark, sf_dir):
    return ts.lang_id(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[^\\pL]+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
    doc="Normalized-text md5 fingerprint (exact-dup key), bit-identical "
        "across engines.",
)
def q_fingerprint(spark, sf_dir):
    return ts.fingerprint(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_langid_vs_labels",
    oracle=f"""
    WITH pred AS (
      SELECT doc_id, lang,
             {_CASE_PRED} AS pred_lang
      FROM (
        SELECT doc_id, lang, greatest({", ".join("hits_" + lg for lg in _LANGS)}) AS m,
               {", ".join("hits_" + lg for lg in _LANGS)}
        FROM (
          SELECT doc_id, lang,
{_HIT_EXPRS}
          FROM (SELECT doc_id, lang, coalesce(text, '') AS text
                FROM documents) documents)))
    SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
    FROM pred
    GROUP BY lang, pred_lang
    """,
    doc="Language-ID confusion matrix against the labeled lang column.",
)
def q_langid_vs_labels(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    # label carried through the lang-id projection — no doc-keyed join
    # back to the corpus for a column this scan already read (r8)
    return (
        ts.lang_id(docs, extra_cols=("lang",))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
_PACK_LEN = 256
_PACK_SHARDS = 16

# Greedy sequential fill is inherently iterative (each doc's bin depends on
# every prior assignment in its shard), so the oracle is a recursive CTE
# that advances every shard one document per iteration — ~rows/shards
# iterations total.
_DUCK_PACKED = f"""
    WITH RECURSIVE counts AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % {_PACK_SHARDS} AS shard,
             CAST(len(list_filter(regexp_split_to_array(coalesce(text, ''),
                                                        '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents),
    ordered AS (
      SELECT shard, doc_id, n_tokens,
             row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      FROM counts),
    packed AS (
      SELECT shard, doc_id, n_tokens, rn,
             CAST(1 AS BIGINT) AS seq_id,
             CAST(0 AS BIGINT) AS seq_offset,
             n_tokens AS filled
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.shard, o.doc_id, o.n_tokens, o.rn,
             CASE WHEN p.filled + o.n_tokens <= {_PACK_LEN}
                  THEN p.seq_id ELSE p.seq_id + 1 END,
             CASE WHEN p.filled + o.n_tokens <= {_PACK_LEN}
                  THEN p.filled ELSE CAST(0 AS BIGINT) END,
             CASE WHEN p.filled + o.n_tokens <= {_PACK_LEN}
                  THEN p.filled + o.n_tokens ELSE o.n_tokens END
      FROM packed p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1)
"""


@register(
    "q_pack_sequences",
    oracle=_DUCK_PACKED + """
    SELECT shard, seq_id, doc_id, n_tokens, seq_offset FROM packed
    """,
    doc="Sequence packing: greedy sequential fill of documents into "
        f"{_PACK_LEN}-token training sequences, sharded by md5(doc_id) so "
        "every shard packs independently (the parallel unit at scale).  "
        "Spark runs the fill as applyInPandas per shard; the DuckDB oracle "
        "replays the identical greedy recurrence as a recursive CTE.",
)
def q_pack_sequences(spark, sf_dir):
    from nonconsumptive_spark.operators.packing import pack_sequences

    return pack_sequences(load(spark, sf_dir, "documents"),
                          max_len=_PACK_LEN, n_shards=_PACK_SHARDS)


@register(
    "q_packing_stats",
    oracle=_DUCK_PACKED + f"""
    , per_seq AS (
      SELECT shard, seq_id, count(*) AS docs_in_seq,
             sum(n_tokens) AS tokens_in_seq
      FROM packed GROUP BY shard, seq_id)
    SELECT CAST(count(*) AS BIGINT) AS n_sequences,
           CAST(sum(docs_in_seq) AS BIGINT) AS n_docs,
           round(avg(docs_in_seq), 4) AS avg_docs_per_seq,
           round(sum(least(tokens_in_seq, {_PACK_LEN})) * 1.0
                 / (count(*) * {_PACK_LEN}), 4) AS fill_ratio
    FROM per_seq
    """,
    doc="Packing efficiency: sequence count, docs per sequence, fill ratio "
        "(padding waste = 1 - fill_ratio) — the number a pipeline owner "
        "watches when choosing max_len and shard count.",
)
def q_packing_stats(spark, sf_dir):
    from nonconsumptive_spark.operators.packing import pack_sequences, packing_stats

    packed = pack_sequences(load(spark, sf_dir, "documents"),
                            max_len=_PACK_LEN, n_shards=_PACK_SHARDS)
    return packing_stats(packed, max_len=_PACK_LEN)


# --------------------------------------------------------------------------
@register(
    "q_arrow_batch_stats",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(len(list_filter(regexp_split_to_array(coalesce(text, ''),
                                                      '\\s+'),
                                x -> x <> '')) AS BIGINT) AS n_ws_tokens
    FROM documents
    """,
    doc="mapInArrow surface (SURVEY §2.10 batch→batch RecordBatch "
        "transforms): per-doc byte length + whitespace-token count computed "
        "with pyarrow.compute kernels on the raw Arrow buffers — no pandas, "
        "no row loops; oracle recomputes in SQL.",
)
def q_arrow_batch_stats(spark, sf_dir):
    from nonconsumptive_spark.operators.arrowops import arrow_text_stats

    return arrow_text_stats(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# The fixture corpus carries no PII, so the query plants one deterministic
# synthetic contact block per doc (identically on both engines) and then
# redacts it — the redaction chain is exercised on every row instead of
# vacuously passing text through.
_PII_AUG = ("coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR) || "
            "'@mail.example.org see https://ex.org/u/' || "
            "CAST(doc_id AS VARCHAR) || '?s=1 acct ' || "
            "CAST(1000000 + doc_id AS VARCHAR)")


@register(
    "q_redact_pii",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_PII_AUG} AS text FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, 'https?://[^\\s]+')) AS BIGINT) AS n_urls,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(
                regexp_replace(regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g'),
                               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
                '\\d{{7,}}')) AS BIGINT) AS n_id_runs,
           regexp_replace(
             regexp_replace(regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g'),
                            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
             '\\d{{7,}}', '<ID>', 'g') AS redacted
    FROM aug
    """,
    doc="PII redaction (compliance pass): emails, URLs, long digit runs "
        "replaced by typed placeholders, with per-class counts.  ASCII-only "
        "patterns so Java regex and RE2 agree; replacement order "
        "URL→email→digits.  Zero shuffle — a regexp_replace chain at scan "
        "throughput.",
)
def q_redact_pii(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),  # NULL text = empty
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.org see https://ex.org/u/"),
            F.col("doc_id").cast("string"), F.lit("?s=1 acct "),
            (F.col("doc_id") + 1_000_000).cast("string"),
        ).alias("text"),
    )
    return ts.redact_pii(aug)


# --------------------------------------------------------------------------
@register(
    "q_unigram_logprob",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents),
    counts AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
    vocab AS (
      SELECT token, c FROM counts ORDER BY c DESC, token ASC LIMIT 50000),
    tot AS (SELECT sum(c) AS n_total, count(*) AS v_size FROM vocab),
    model AS (
      SELECT token, ln((c + 1) * 1.0 / (n_total + v_size + 1)) AS logprob
      FROM vocab CROSS JOIN tot),
    scored AS (
      SELECT t.doc_id,
             coalesce(m.logprob,
                      (SELECT ln(1.0 / (n_total + v_size + 1)) FROM tot)) AS lp
      FROM tok t LEFT JOIN model m USING (token)),
    per_doc AS (
      SELECT doc_id, count(*) AS n_tokens, round(avg(lp), 4) AS avg_logprob
      FROM scored GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
           coalesce(p.avg_logprob, 0.0) AS avg_logprob
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
    doc="Perplexity-proxy quality filter (CCNet-style): per-doc mean "
        "unigram log-prob under the corpus's own Laplace-smoothed unigram "
        "model (capped vocab, OOV floor).  Model builds in one capped "
        "aggregation and broadcasts; per-doc mean is a second short-key "
        "hash agg.",
)
def q_unigram_logprob(spark, sf_dir):
    return ts.unigram_logprob_scores(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_bigram_logprob",
    oracle=f"""
    WITH tokpos AS (
      SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
             unnest({_DUCK_TOKS}) AS token
      FROM documents),
    rws AS (
      SELECT doc_id,
             lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
             token AS cur
      FROM tokpos),
    uni AS (SELECT token, count(*) AS c_prev FROM tokpos GROUP BY token),
    big AS (SELECT prev, cur, count(*) AS c_big FROM rws
            WHERE prev IS NOT NULL GROUP BY prev, cur),
    vocab AS (
      SELECT token, c_prev FROM uni ORDER BY c_prev DESC, token ASC LIMIT 50000),
    tot AS (SELECT sum(c_prev) AS n_total, count(*) AS v_size FROM vocab),
    lap AS (
      SELECT token AS cur, (c_prev + 1) * 1.0 / (n_total + v_size + 1) AS p_lap
      FROM vocab CROSS JOIN tot),
    oov AS (SELECT 1.0 / (n_total + v_size + 1) AS p_oov FROM tot),
    scored AS (
      SELECT r.doc_id,
             ln(CASE WHEN r.prev IS NULL THEN coalesce(l.p_lap, o.p_oov)
                ELSE 0.5 * coalesce(b.c_big, 0) / u.c_prev
                     + 0.5 * coalesce(l.p_lap, o.p_oov) END) AS lp
      FROM rws r
      LEFT JOIN big b ON b.prev = r.prev AND b.cur = r.cur
      LEFT JOIN uni u ON u.token = r.prev
      LEFT JOIN lap l ON l.cur = r.cur
      CROSS JOIN oov o),
    per_doc AS (
      SELECT doc_id, count(*) AS n_tokens, round(avg(lp), 4) AS avg_logprob
      FROM scored GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
           coalesce(p.avg_logprob, 0.0) AS avg_logprob
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
    doc="Interpolated bigram LM scorer (lambda=0.5 bigram MLE + Laplace "
        "unigram, same constants as q_unigram_logprob) — the next CCNet "
        "ladder rung: fluent text gains the bigram term, word salad falls "
        "back to unigram.  Bigram model join is a short-key equi-join "
        "(NOT forced broadcast — bigram vocab grows with the corpus); "
        "Laplace model broadcasts at <= cap rows.",
)
def q_bigram_logprob(spark, sf_dir):
    return ts.bigram_logprob_scores(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Snapshot diff: "old" = docs with id % 7 != 0, "new" = every doc but ids
# divisible by 5 carry edited text — both engines derive the two snapshots
# from the same fixture, so added/deleted/changed/unchanged all occur.
@register(
    "q_corpus_diff",
    oracle="""
    WITH old AS (
      SELECT doc_id, md5(text) AS fp_old FROM documents WHERE doc_id % 7 <> 0),
    new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS fp_new
      FROM documents WHERE doc_id % 11 <> 3),
    j AS (
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.fp_old, n.fp_new
      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
    SELECT doc_id,
           CASE WHEN fp_old IS NULL THEN 'added'
                WHEN fp_new IS NULL THEN 'deleted'
                WHEN fp_old <> fp_new THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM j
    """,
    doc="Corpus snapshot diff (incremental-ingest driver): full outer join "
        "of md5 fingerprints classifies every doc id as added / deleted / "
        "changed / unchanged.  Sides prune to (id, fingerprint) before the "
        "join — the shuffle never carries text.",
)
def q_corpus_diff(spark, sf_dir):
    from pyspark.sql import functions as F

    from nonconsumptive_spark.operators.versioning import corpus_diff

    docs = load(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 11 != 3).withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")),
    )
    return corpus_diff(old, new)


# --------------------------------------------------------------------------
@register(
    "q_cap_per_source",
    oracle="""
    SELECT doc_id, source, rk FROM (
      SELECT doc_id, source,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS BIGINT) AS rk
      FROM documents)
    WHERE rk <= 50
    """,
    doc="Domain capping: at most 50 docs per source, chosen by "
        "deterministic md5 rank — the anti-monoculture curation rule.  "
        "Exact form shuffles once on the stratum key; the documented "
        "scale path for pathologically hot strata is count + hash_sample "
        "at fraction k/count.",
)
def q_cap_per_source(spark, sf_dir):
    return ts.cap_per_source(load(spark, sf_dir, "documents"), k=50)


# --------------------------------------------------------------------------
@register(
    "q_quality_filter",
    oracle=f"""
    WITH sig AS (
      SELECT doc_id,
             len({_DUCK_TOKS}) AS n_tokens,
             CASE WHEN length(text) > 0
                  THEN length(regexp_replace(text, '[^\\pL]', '', 'g')) * 1.0 / length(text)
                  ELSE 0.0 END AS alpha_ratio,
             CASE WHEN len({_DUCK_TOKS}) > 0
                  THEN len(list_filter({_DUCK_TOKS}, t -> list_contains({_stoplist_sql("en")}, lower(t)))) * 1.0
                       / len({_DUCK_TOKS})
                  ELSE 0.0 END AS stop_ratio,
             (SELECT CASE WHEN count(*) > 0
                          THEN 1.0 - count(DISTINCT g) * 1.0 / count(*) ELSE 0.0 END
              FROM (SELECT w0 || ' ' || w1 AS g FROM (
                      SELECT unnest({_DUCK_TOKS}[1:len({_DUCK_TOKS})-1]) AS w0,
                             unnest({_DUCK_TOKS}[2:len({_DUCK_TOKS})]) AS w1)) z
             ) AS dup_bg
      FROM (SELECT doc_id, coalesce(text, '') AS text
            FROM documents) documents)
    SELECT doc_id,
           n_tokens < 20 AS too_short,
           alpha_ratio < 0.5 AS low_alpha,
           dup_bg > 0.3 AS high_dup,
           stop_ratio < 0.05 AS low_stopword,
           NOT (n_tokens < 20 OR alpha_ratio < 0.5 OR dup_bg > 0.3
                OR stop_ratio < 0.05) AS keep
    FROM sig
    """,
    doc="Composite Gopher-style quality filter: keep/drop plus one boolean "
        "per rule (length, alpha ratio, duplicate-bigram fraction, "
        "stopword floor).  All per-row array math — zero shuffle.",
)
def q_quality_filter(spark, sf_dir):
    return ts.quality_filter(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_winnow_fingerprints",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, coalesce({_DUCK_TOKS}, []) AS t FROM documents),
    grams AS (
      SELECT doc_id, i AS pos,
             CAST(('0x' || substr(md5(array_to_string(t[i:i+{ts.WINNOW_K - 1}], ' ')), 1, 15))
                  AS BIGINT) AS h
      FROM toks, unnest(range(1, len(t) - {ts.WINNOW_K - 2})) AS r(i)),
    wins AS (
      SELECT doc_id, pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {ts.WINNOW_W - 1} FOLLOWING) AS mh,
             count(*) OVER (PARTITION BY doc_id) AS n_grams
      FROM grams),
    sel AS (
      SELECT doc_id, mh FROM wins
      WHERE pos <= n_grams - {ts.WINNOW_W - 1}
      GROUP BY doc_id, mh),
    per_doc AS (
      SELECT doc_id, count(*) AS n_fingerprints, bit_xor(mh) AS fp_checksum
      FROM sel GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(greatest(len(t.t) - {ts.WINNOW_K + ts.WINNOW_W - 2}, 0) AS BIGINT) AS n_windows,
           CAST(coalesce(p.n_fingerprints, 0) AS BIGINT) AS n_fingerprints,
           CAST(coalesce(p.fp_checksum, 0) AS BIGINT) AS fp_checksum
    FROM toks t LEFT JOIN per_doc p USING (doc_id)
    """,
    doc=f"Winnowing fingerprints (MOSS, k={ts.WINNOW_K} w={ts.WINNOW_W}): "
        "positional k-gram hashes, per-window minima, distinct selection — "
        "the guarantee-bearing sub-document fingerprint scheme (any shared "
        "run of k+w-1 tokens shares a fingerprint).  Spark side is a "
        "zero-shuffle in-row array program; the oracle replays it with "
        "window-function minima over exploded positions.",
)
def q_winnow_fingerprints(spark, sf_dir):
    return ts.winnow_fingerprints(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_dsir_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents),
    raw AS (SELECT token, count(*) AS c_raw FROM tok GROUP BY token),
    vocab AS (
      SELECT token, c_raw FROM raw
      ORDER BY c_raw DESC, token ASC LIMIT {ts.DSIR_VOCAB_CAP}),
    tgt AS (
      SELECT t.token, count(*) AS c_tgt
      FROM tok t JOIN documents d USING (doc_id)
      WHERE d.lang = 'en' GROUP BY t.token),
    lut AS (
      SELECT v.token, v.c_raw, coalesce(g.c_tgt, 0) AS c_tgt
      FROM vocab v LEFT JOIN tgt g USING (token)),
    tot AS (
      SELECT sum(c_raw) AS t_raw, sum(c_tgt) AS t_tgt, count(*) AS v FROM lut),
    model AS (
      SELECT token,
             CAST(round(ln(((c_tgt + 1) / (t_tgt + v + 1)) / ((c_raw + 1) / (t_raw + v + 1)))
                        * {ts.DSIR_LR_SCALE}) AS BIGINT) AS lr_q
      FROM lut CROSS JOIN tot),
    oov AS (
      SELECT CAST(round(ln((1.0 / (t_tgt + v + 1)) / (1.0 / (t_raw + v + 1)))
                        * {ts.DSIR_LR_SCALE}) AS BIGINT) AS lr_q FROM tot),
    scored AS (
      SELECT t.doc_id, count(*) AS n_tokens,
             CAST(sum(coalesce(m.lr_q, o.lr_q)) AS BIGINT) AS sum_q
      FROM tok t LEFT JOIN model m USING (token) CROSS JOIN oov o
      GROUP BY t.doc_id),
    keyed AS (SELECT *, CAST(floor(CAST(sum_q AS DOUBLE) / n_tokens / 1000.0)
                             AS BIGINT) AS sk FROM scored),
    hist AS (
      SELECT sk, count(*) AS bucket_n FROM keyed GROUP BY sk),
    cum AS (
      SELECT sk,
             sum(bucket_n) OVER (ORDER BY sk DESC
                                 ROWS UNBOUNDED PRECEDING) - bucket_n AS kept_before
      FROM hist),
    nk AS (SELECT CAST(ceil(count(*) * {ts.DSIR_KEEP_FRAC}) AS BIGINT) AS n_keep
           FROM keyed),
    ranked AS (
      SELECT k.doc_id, k.n_tokens, k.sum_q,
             c.kept_before
               + row_number() OVER (PARTITION BY k.sk ORDER BY k.doc_id) AS rnk
      FROM keyed k JOIN cum c USING (sk))
    SELECT d.doc_id,
           CAST(coalesce(r.n_tokens, 0) AS BIGINT) AS n_tokens,
           coalesce(round(CAST(r.sum_q AS DOUBLE) / r.n_tokens
                          / {ts.DSIR_LR_SCALE}.0, 4) + 0.0, 0.0) AS avg_logratio,
           coalesce(r.rnk <= (SELECT n_keep FROM nk), false) AS keep
    FROM documents d LEFT JOIN ranked r USING (doc_id)
    """,
    doc="DSIR-style importance weighting (Xie et al. 2023): per-doc mean "
        "ln(p_target/p_raw) under Laplace-smoothed unigram models (target "
        "= lang='en' docs, raw = whole corpus, shared capped vocab), with "
        "a deterministic top-fraction keep.  The top cut ranks via a "
        "score-key histogram (bounded unpartitioned window) plus an "
        "in-bucket id rank — no global row_number over the corpus.  "
        "Token-less docs score 0 and are never kept.",
)
def q_dsir_weights(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    w = ts.dsir_weights(docs, F.col("lang") == "en")
    return (
        docs.select("doc_id")
        .join(w, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("avg_logratio", F.lit(0.0)).alias("avg_logratio"),
            F.coalesce("keep", F.lit(False)).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "q_winnow_overlap_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, coalesce({_DUCK_TOKS}, []) AS t FROM documents),
    grams AS (
      SELECT doc_id, i AS pos,
             CAST(('0x' || substr(md5(array_to_string(t[i:i+{ts.WINNOW_K - 1}], ' ')), 1, 15))
                  AS BIGINT) AS h
      FROM toks, unnest(range(1, len(t) - {ts.WINNOW_K - 2})) AS r(i)),
    wins AS (
      SELECT doc_id, pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {ts.WINNOW_W - 1} FOLLOWING) AS mh,
             count(*) OVER (PARTITION BY doc_id) AS n_grams
      FROM grams),
    sel AS (
      SELECT doc_id, mh FROM wins
      WHERE pos <= n_grams - {ts.WINNOW_W - 1}
      GROUP BY doc_id, mh)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM sel a JOIN sel b ON a.mh = b.mh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 2
    """,
    doc="Winnowing overlap detector: pairs sharing >= 2 selected "
        "fingerprints — the partial-overlap (plagiarism/quotation) dual "
        "of whole-doc dedup; guaranteed to surface any pair sharing a "
        "k+w-1-token run.  Fingerprint equi-join over materialized "
        "selected sets, same banded-candidate shape as LSH.",
)
def q_winnow_overlap_pairs(spark, sf_dir):
    return ts.winnow_overlap_pairs(load(spark, sf_dir, "documents"),
                                   min_shared=2)


# --------------------------------------------------------------------------
@register(
    "q_training_order",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS k,
             CAST(CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 16 AS INTEGER) AS shard
      FROM documents)
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
                AS BIGINT) AS pos
    FROM keyed
    """,
    doc="Deterministic training-order shuffle: md5(seed:id) sort key, "
        "hash-balanced shard, within-shard position — reproducible across "
        "engines/runs/cluster sizes and re-keyable per epoch.  Rank is "
        "windowed PER SHARD (n_shards sized to one output file each at "
        "scale); the write-side form is repartition + sortWithinPartitions "
        "with no materialized rank at all.",
)
def q_training_order(spark, sf_dir):
    return ts.training_order(load(spark, sf_dir, "documents"),
                             seed=42, n_shards=16)


# --------------------------------------------------------------------------
@register(
    "q_corpus_profile",
    oracle=f"""
    WITH base AS (
      SELECT source, lang, CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens
      FROM (SELECT source, lang, coalesce(text, '') AS text
            FROM documents) documents),
    stats AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             round(avg(n_tokens), 3) AS mean_tokens,
             round(CAST(quantile_cont(n_tokens, 0.50) AS DOUBLE), 3) AS p50_tokens,
             round(CAST(quantile_cont(n_tokens, 0.95) AS DOUBLE), 3) AS p95_tokens,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
      FROM base GROUP BY source),
    lc AS (SELECT source, lang, count(*) AS c FROM base GROUP BY source, lang),
    top AS (
      SELECT source, lang AS top_lang
      FROM (SELECT source, lang,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY c DESC, lang ASC) AS rn
            FROM lc)
      WHERE rn = 1)
    SELECT s.*, t.top_lang FROM stats s JOIN top t USING (source)
    """,
    doc="Per-source dataset-card profile: doc/token counts, mean and exact "
        "interpolated p50/p95 token counts, language diversity, dominant "
        "language (count-desc name-asc ties).  One tokenize pass, one "
        "stratum agg, argmax via min(struct) on the (source, lang) agg — "
        "no doc-level windows.",
)
def q_corpus_profile(spark, sf_dir):
    return ts.corpus_profile(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# The test corpus has no markup or punctuation, so the hygiene queries
# plant a deterministic construction on both engines first (same pattern
# as q_redact_pii's contact block and the multimodal headers).
@register(
    "q_strip_markup",
    oracle=r"""
    WITH marked AS (
      SELECT doc_id,
             '<p id="' || doc_id || '"><b>' || coalesce(text, '')
               || '</b> &amp; tail</p>' AS text
      FROM documents),
    stripped AS (
      SELECT doc_id,
             replace(replace(replace(replace(replace(replace(
               regexp_replace(text, '<[^>]*>', ' ', 'g'),
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS decoded,
             CAST(len(regexp_split_to_array(text, '<[^>]*>')) - 1 AS BIGINT)
               AS n_tags_removed
      FROM marked)
    SELECT doc_id,
           trim(regexp_replace(decoded, '\s+', ' ', 'g')) AS clean_text,
           n_tags_removed
    FROM stripped
    """,
    doc="Markup stripping (the crawl-extraction step): tags removed, "
        "high-frequency entities decoded in one pass (&amp; last, so "
        "&amp;lt; decodes to &lt; not <), whitespace collapsed.  Both "
        "engines wrap the corpus in a deterministic tag+entity shell "
        "first.  Zero shuffle: a regexp/replace chain at scan throughput.",
)
def q_strip_markup(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    marked = docs.select(
        "doc_id",
        F.concat(
            F.lit('<p id="'), F.col("doc_id").cast("string"), F.lit('"><b>'),
            F.coalesce(F.col("text"), F.lit("")), F.lit("</b> &amp; tail</p>"),
        ).alias("text"),
    )
    return ts.strip_markup(marked)


# --------------------------------------------------------------------------
@register(
    "q_sentence_stats",
    oracle=r"""
    WITH punct AS (
      SELECT doc_id, replace(coalesce(text, ''), ' a ', '. ') || '!' AS text
      FROM documents),
    sents AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[.!?]+'),
                         s -> trim(s) <> '') AS ss
      FROM punct),
    counts AS (
      SELECT doc_id,
             list_transform(ss,
               s -> len(list_filter(regexp_split_to_array(trim(s), '[^\pL]+'),
                                    x -> x <> ''))) AS cs
      FROM sents)
    SELECT doc_id,
           CAST(len(cs) AS BIGINT) AS n_sentences,
           CASE WHEN len(cs) > 0
                THEN round(list_sum(cs) * 1.0 / len(cs), 4) ELSE 0.0 END
             AS mean_sentence_tokens,
           CAST(coalesce(list_max(cs), 0) AS BIGINT) AS max_sentence_tokens
    FROM counts
    """,
    doc="Sentence segmentation stats (the unit for sentence-level dedup "
        "and quality passes): regex terminators, per-sentence token "
        "counts, mean/max per doc.  The corpus has no punctuation, so "
        "both engines plant the same deterministic '.'/'!' construction "
        "first.  All in-row array math, zero shuffle.",
)
def q_sentence_stats(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    punct = docs.select(
        "doc_id",
        F.concat(F.replace(F.coalesce(F.col("text"), F.lit("")),
                           F.lit(" a "), F.lit(". ")),
                 F.lit("!")).alias("text"),
    )
    return ts.sentence_stats(punct)


# --------------------------------------------------------------------------
@register(
    "q_curation_pipeline",
    oracle=f"""
    WITH sig AS (
      SELECT doc_id,
             len({_DUCK_TOKS}) AS n_tokens,
             CASE WHEN length(text) > 0
                  THEN length(regexp_replace(text, '[^\\pL]', '', 'g')) * 1.0 / length(text)
                  ELSE 0.0 END AS alpha_ratio,
             CASE WHEN len({_DUCK_TOKS}) > 0
                  THEN len(list_filter({_DUCK_TOKS}, t -> list_contains({_stoplist_sql("en")}, lower(t)))) * 1.0
                       / len({_DUCK_TOKS})
                  ELSE 0.0 END AS stop_ratio,
             (SELECT CASE WHEN count(*) > 0
                          THEN 1.0 - count(DISTINCT g) * 1.0 / count(*) ELSE 0.0 END
              FROM (SELECT w0 || ' ' || w1 AS g FROM (
                      SELECT unnest({_DUCK_TOKS}[1:len({_DUCK_TOKS})-1]) AS w0,
                             unnest({_DUCK_TOKS}[2:len({_DUCK_TOKS})]) AS w1)) z
             ) AS dup_bg
      FROM documents),
    quality AS (
      SELECT doc_id,
             NOT (n_tokens < 20 OR alpha_ratio < 0.5 OR dup_bg > 0.3
                  OR stop_ratio < 0.05) AS quality_keep
      FROM sig),
    clean AS (
      SELECT d.* FROM documents d JOIN quality q USING (doc_id)
      WHERE q.quality_keep),
    fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '[^\\pL]+', ' ', 'g'))) AS f
      FROM clean),
    keepers AS (
      SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY f) AS dedup_keeper
      FROM fp),
    tokpos AS (
      SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
             unnest({_DUCK_TOKS}) AS token
      FROM documents),
    shingles AS (
      SELECT DISTINCT doc_id, w0 || ' ' || w1 || ' ' || w2 AS shingle
      FROM (
        SELECT doc_id, token AS w0,
               lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
               lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM tokpos) z
      WHERE w2 IS NOT NULL),
    eval_sh AS (SELECT DISTINCT shingle FROM shingles WHERE doc_id < 10),
    contam AS (
      SELECT s.doc_id, count(DISTINCT s.shingle) >= 5 AS contaminated
      FROM shingles s JOIN eval_sh e USING (shingle)
      GROUP BY s.doc_id),
    verdicts AS (
      SELECT d.doc_id,
             coalesce(q.quality_keep, false) AS quality_keep,
             coalesce(k.dedup_keeper, false) AS dedup_keeper,
             coalesce(c.contaminated, false) AS contaminated,
             CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 10000 AS b
      FROM documents d
      LEFT JOIN quality q USING (doc_id)
      LEFT JOIN keepers k USING (doc_id)
      LEFT JOIN contam c USING (doc_id))
    SELECT doc_id, quality_keep, dedup_keeper, contaminated,
           quality_keep AND dedup_keeper AND NOT contaminated AS selected,
           CASE WHEN quality_keep AND dedup_keeper AND NOT contaminated
                THEN (CASE WHEN b < 9800 THEN 'train'
                           WHEN b < 9900 THEN 'val' ELSE 'test' END)
           END AS split
    FROM verdicts
    """,
    doc="The end-to-end curation pipeline: quality filter -> exact-dedup "
        "keeper election (run on quality survivors only, so spam never "
        "steals keeper-ship from its clean duplicate) -> benchmark "
        "decontamination (eval = docs 0-9) -> deterministic 98/1/1 split "
        "for survivors.  One row per INPUT doc with per-stage verdicts — "
        "the training-set selector and the governance audit trail in one "
        "frame.  Oracle chains the four stage replays end-to-end.",
)
def q_curation_pipeline(spark, sf_dir):
    from nonconsumptive_spark.operators.pipeline import curate
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    return curate(docs, docs.filter(F.col("doc_id") < 10))


# --------------------------------------------------------------------------
@register(
    "q_uniform_sample_k",
    oracle="""
    SELECT doc_id, source
    FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    LIMIT 25
    """,
    doc="Deterministic exact-k uniform sample (eval-subset selection): the "
        "25 smallest md5(doc_id) ranks.  A pure function of the key — "
        "stable across runs/engines/partitionings, unlike RNG sample().  "
        "Plans as TakeOrderedAndProject (distributed partial top-k).",
)
def q_uniform_sample_k(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return ts.uniform_sample_k(docs, k=25)


# --------------------------------------------------------------------------
@register(
    "q_perplexity_buckets",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents),
    raw AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
    vocab AS (
      SELECT token, c FROM raw ORDER BY c DESC, token ASC LIMIT {ts.PPL_VOCAB_CAP}),
    tot AS (SELECT sum(c) AS t, count(*) AS v FROM vocab),
    model AS (
      SELECT token,
             CAST(round(ln((c + 1) / (t + v + 1)) * {ts.DSIR_LR_SCALE}) AS BIGINT) AS lp_q
      FROM vocab CROSS JOIN tot),
    oov AS (
      SELECT CAST(round(ln(1.0 / (t + v + 1)) * {ts.DSIR_LR_SCALE}) AS BIGINT) AS lp_q
      FROM tot),
    scored AS (
      SELECT t.doc_id, count(*) AS n_tokens,
             CAST(sum(coalesce(m.lp_q, o.lp_q)) AS BIGINT) AS sum_q
      FROM tok t LEFT JOIN model m USING (token) CROSS JOIN oov o
      GROUP BY t.doc_id),
    keyed AS (SELECT *, CAST(floor(CAST(sum_q AS DOUBLE) / n_tokens / 1000.0)
                             AS BIGINT) AS sk FROM scored),
    hist AS (SELECT sk, count(*) AS bucket_n FROM keyed GROUP BY sk),
    cum AS (
      SELECT sk,
             sum(bucket_n) OVER (ORDER BY sk DESC
                                 ROWS UNBOUNDED PRECEDING) - bucket_n AS kept_before
      FROM hist),
    nb AS (SELECT (count(*) + 2) // 3 AS h1, (2 * count(*) + 2) // 3 AS h2
           FROM keyed),
    ranked AS (
      SELECT k.doc_id, k.n_tokens, k.sum_q,
             c.kept_before
               + row_number() OVER (PARTITION BY k.sk ORDER BY k.doc_id) AS rnk
      FROM keyed k JOIN cum c USING (sk))
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(CAST(sum_q AS DOUBLE) / n_tokens
                 / {ts.DSIR_LR_SCALE}.0, 4) + 0.0 AS avg_logprob,
           CASE WHEN rnk <= (SELECT h1 FROM nb) THEN 'head'
                WHEN rnk <= (SELECT h2 FROM nb) THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ranked
    """,
    doc="CCNet-style perplexity bucketing: mean token log-prob under the "
        "corpus's own add-1 unigram LM (capped vocab + OOV bucket), "
        "tercile split head/middle/tail (head = most predictable).  "
        "Log-probs are integer-quantized in the broadcast LUT (exact "
        "BIGINT sums, the DSIR scheme), the tercile cut ranks via the "
        "integer score-key histogram + in-bucket id rank — no global "
        "row_number over the corpus — and boundaries are (n+2) DIV 3 "
        "integer arithmetic on both engines.",
)
def q_perplexity_buckets(spark, sf_dir):
    return ts.perplexity_buckets(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
_STRAT_K = 100


@register(
    "q_stratified_sample",
    oracle=f"""
    WITH counts AS (SELECT source, count(*) AS n_i FROM documents GROUP BY source),
    tot AS (SELECT sum(n_i) AS N FROM counts),
    alloc0 AS (
      SELECT source, n_i, ({_STRAT_K} * n_i) // N AS base,
             ({_STRAT_K} * n_i) % N AS rem
      FROM counts CROSS JOIN tot),
    lo AS (SELECT {_STRAT_K} - sum(base) AS L FROM alloc0),
    alloc AS (
      SELECT source,
             base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source ASC)
                           <= (SELECT L FROM lo) THEN 1 ELSE 0 END AS alloc
      FROM alloc0),
    ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
      FROM documents)
    SELECT r.doc_id, r.source, CAST(r.rk AS BIGINT) AS rk
    FROM ranked r JOIN alloc a USING (source)
    WHERE r.rk <= a.alloc
    """,
    doc=f"Exactly-{_STRAT_K} proportional stratified sample: "
        "largest-remainder (Hamilton) apportionment across sources with "
        "exact BIGINT quota arithmetic (k*n_i DIV N / k*n_i %% N — no "
        "float quota decides a row on either engine), strata filled by "
        "deterministic md5 rank.  The eval-split selector that mirrors "
        "the corpus's domain mixture exactly.",
)
def q_stratified_sample(spark, sf_dir):
    return ts.stratified_sample_proportional(
        load(spark, sf_dir, "documents"), k=_STRAT_K)


# --------------------------------------------------------------------------
@register(
    "q_char_diversity",
    oracle="""
    WITH ch AS (
      SELECT doc_id,
             unnest(list_filter(string_split(coalesce(text, ''), ''),
                                x -> x <> '')) AS c
      FROM documents),
    hist AS (
      SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cnt
      FROM ch GROUP BY doc_id, c),
    agg AS (
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(cnt * cnt) AS BIGINT) AS ss,
             CAST(count(*) AS BIGINT) AS d,
             CAST(sum(cnt * CAST(round(log2(cnt) * 1000000000) AS BIGINT))
                  AS BIGINT) AS hq
      FROM hist GROUP BY doc_id)
    SELECT doc.doc_id,
           coalesce(a.n, 0) AS n_chars_tok,
           coalesce(a.d, 0) AS n_distinct_chars,
           coalesce(a.ss, 0) AS sum_sq,
           round(CASE WHEN a.n > 0 THEN 1.0 - a.ss * 1.0 / (a.n * a.n)
                 ELSE 0.0 END, 4) + 0.0 AS simpson,
           round(CASE WHEN a.n > 0
                 THEN (round(log2(a.n) * 1000000000) - a.hq * 1.0 / a.n)
                      / 1000000000
                 ELSE 0.0 END, 4) + 0.0 AS entropy
    FROM documents doc LEFT JOIN agg a USING (doc_id)
    """,
    doc="Character-level diversity stats (Shannon entropy + Simpson index "
        "— gibberish/boilerplate quality signal).  In-row char histogram "
        "(sort + RLE fold, zero shuffle); log2 terms integer-quantized to "
        "1e-9 units so cross-engine sums are exact BIGINTs "
        "(operators/textstats.py:char_diversity).",
)
def q_char_diversity(spark, sf_dir):
    return ts.char_diversity(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_stupid_backoff",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
             unnest({_DUCK_TOKS}) AS w
      FROM documents),
    pairs AS (
      SELECT doc_id, w0, w1 FROM (
        SELECT doc_id, w AS w0,
               lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        FROM toks) z
      WHERE w1 IS NOT NULL),
    ug AS (SELECT w, CAST(count(*) AS BIGINT) AS c_ug FROM toks GROUP BY w),
    tot AS (SELECT CAST(sum(c_ug) AS BIGINT) AS n_tok,
                   CAST(count(*) AS BIGINT) AS v_lm FROM ug),
    bg AS (SELECT w0, w1, CAST(count(*) AS BIGINT) AS c_bg
           FROM pairs GROUP BY w0, w1),
    lut AS (
      SELECT b.w0, b.w1,
             CAST(round(ln(b.c_bg / u.c_ug) * {ts.SB_SCALE}) AS BIGINT) AS q_bg
      FROM bg b JOIN ug u ON u.w = b.w0),
    bo AS (
      SELECT u.w AS w1,
             CAST(round(ln({ts.SB_ALPHA} * (u.c_ug + 1) / (t.n_tok + t.v_lm))
                  * {ts.SB_SCALE}) AS BIGINT) AS q_bo
      FROM ug u CROSS JOIN tot t),
    sc AS (
      SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(coalesce(l.q_bg, b.q_bo)) AS BIGINT) AS sum_q
      FROM pairs p
      LEFT JOIN lut l ON l.w0 = p.w0 AND l.w1 = p.w1
      LEFT JOIN bo b ON b.w1 = p.w1
      GROUP BY p.doc_id)
    SELECT doc_id, n_pairs, sum_q,
           round(sum_q * 1.0 / n_pairs / {ts.SB_SCALE}, 4) + 0.0 AS avg_logscore
    FROM sc
    """,
    doc="Stupid-backoff bigram LM scoring (Brants et al. 2007) — the cheap "
        "corpus LM used to perplexity-rank web text for curation.  Per-pair "
        "log-scores integer-quantized in the LUT (micro-nats) so per-doc "
        "sums are exact BIGINTs in both engines "
        "(operators/textstats.py:stupid_backoff_scores).",
)
def q_stupid_backoff(spark, sf_dir):
    return ts.stupid_backoff_scores(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_backoff_cross_corpus",
    oracle=f"""
    WITH toks_all AS (
      SELECT doc_id, lang, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
             unnest({_DUCK_TOKS}) AS w
      FROM documents),
    pairs AS (
      SELECT doc_id, w0, w1 FROM (
        SELECT doc_id, w AS w0,
               lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        FROM toks_all) z
      WHERE w1 IS NOT NULL),
    lm_toks AS (SELECT * FROM toks_all WHERE lang = 'en'),
    ug AS (SELECT w, CAST(count(*) AS BIGINT) AS c_ug FROM lm_toks GROUP BY w),
    tot AS (SELECT CAST(sum(c_ug) AS BIGINT) AS n_tok,
                   CAST(count(*) AS BIGINT) AS v_lm FROM ug),
    lm_pairs AS (
      SELECT w0, w1 FROM (
        SELECT w AS w0, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        FROM lm_toks) z
      WHERE w1 IS NOT NULL),
    bg AS (SELECT w0, w1, CAST(count(*) AS BIGINT) AS c_bg
           FROM lm_pairs GROUP BY w0, w1),
    lut AS (
      SELECT b.w0, b.w1,
             CAST(round(ln(b.c_bg / u.c_ug) * {ts.SB_SCALE}) AS BIGINT) AS q_bg
      FROM bg b JOIN ug u ON u.w = b.w0),
    bo AS (
      SELECT u.w AS w1,
             CAST(round(ln({ts.SB_ALPHA} * (u.c_ug + 1) / (t.n_tok + t.v_lm))
                  * {ts.SB_SCALE}) AS BIGINT) AS q_bo
      FROM ug u CROSS JOIN tot t),
    oov AS (
      SELECT CAST(round(ln({ts.SB_ALPHA} * 1 / (t.n_tok + t.v_lm))
                  * {ts.SB_SCALE}) AS BIGINT) AS q_oov
      FROM tot t),
    sc AS (
      SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(coalesce(l.q_bg, b.q_bo, o.q_oov)) AS BIGINT) AS sum_q
      FROM pairs p
      LEFT JOIN lut l ON l.w0 = p.w0 AND l.w1 = p.w1
      LEFT JOIN bo b ON b.w1 = p.w1
      CROSS JOIN oov o
      GROUP BY p.doc_id)
    SELECT doc_id, n_pairs, sum_q,
           round(sum_q * 1.0 / n_pairs / {ts.SB_SCALE}, 4) + 0.0 AS avg_logscore
    FROM sc
    """,
    doc="Cross-corpus stupid-backoff scoring (CCNet-style: every document "
        "scored under the LM of the trusted 'en' subcorpus) — unlike the "
        "self-LM q_stupid_backoff, unseen bigrams actually occur here, so "
        "the smoothed unigram-backoff and OOV-floor paths are exercised "
        "and hash-verified.",
)
def q_backoff_cross_corpus(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    return ts.stupid_backoff_scores(
        docs, lm_df=docs.filter(F.col("lang") == "en"))


# --------------------------------------------------------------------------
@register(
    "q_js_divergence",
    oracle=f"""
    WITH cnt AS (
      SELECT lang AS lbl, w, CAST(count(*) AS BIGINT) AS c FROM (
        SELECT lang, unnest({_DUCK_TOKS}) AS w FROM documents) z
      GROUP BY lang, w),
    labels AS (SELECT DISTINCT lbl FROM cnt),
    pairs AS (
      SELECT a.lbl AS label_a, b.lbl AS label_b
      FROM labels a JOIN labels b ON a.lbl < b.lbl),
    per_tok AS (
      SELECT p.label_a, p.label_b, c.w,
             CAST(sum(CASE WHEN c.lbl = p.label_a THEN c.c ELSE 0 END)
                  AS BIGINT) AS c_a,
             CAST(sum(CASE WHEN c.lbl = p.label_b THEN c.c ELSE 0 END)
                  AS BIGINT) AS c_b
      FROM pairs p JOIN cnt c ON c.lbl = p.label_a OR c.lbl = p.label_b
      GROUP BY p.label_a, p.label_b, c.w),
    scalars AS (
      SELECT label_a, label_b, CAST(count(*) AS BIGINT) AS v,
             CAST(sum(c_a) AS BIGINT) AS n_a,
             CAST(sum(c_b) AS BIGINT) AS n_b
      FROM per_tok GROUP BY label_a, label_b),
    terms AS (
      SELECT t.label_a, t.label_b, s.v, s.n_a, s.n_b,
             CAST(round((0.5 * ((t.c_a + 1) / (s.n_a + s.v))
                           * ln(((t.c_a + 1) / (s.n_a + s.v))
                                / ((((t.c_a + 1) / (s.n_a + s.v))
                                    + ((t.c_b + 1) / (s.n_b + s.v))) / 2))
                         + 0.5 * ((t.c_b + 1) / (s.n_b + s.v))
                           * ln(((t.c_b + 1) / (s.n_b + s.v))
                                / ((((t.c_a + 1) / (s.n_a + s.v))
                                    + ((t.c_b + 1) / (s.n_b + s.v))) / 2)))
                        * {ts.JSD_SCALE}) AS BIGINT) AS tq
      FROM per_tok t
      JOIN scalars s ON s.label_a = t.label_a AND s.label_b = t.label_b)
    SELECT label_a, label_b, max(v) AS v, max(n_a) AS n_a, max(n_b) AS n_b,
           round(CAST(sum(tq) AS BIGINT) * 1.0 / {ts.JSD_SCALE}, 6) + 0.0 AS jsd
    FROM terms GROUP BY label_a, label_b
    """,
    doc="Pairwise Jensen-Shannon divergence between per-language unigram "
        "distributions (corpus-drift / domain-shift measurement; add-1 "
        "smoothing over the pair's union vocabulary).  Per-token terms "
        "integer-quantized to 1e-12 nats so per-pair sums are exact "
        "BIGINTs (operators/textstats.py:unigram_js_divergence).",
)
def q_js_divergence(spark, sf_dir):
    return ts.unigram_js_divergence(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_cooccurrence_window",
    oracle=f"""
    WITH tokpos AS (
      SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
             unnest({_DUCK_TOKS}) AS token
      FROM documents)
    SELECT a.token AS w0, b.token AS w1, CAST(count(*) AS BIGINT) AS count
    FROM tokpos a JOIN tokpos b
      ON b.doc_id = a.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 4
    GROUP BY a.token, b.token
    """,
    doc="Directional windowed co-occurrence counts (distance <= 4) — the "
        "skip-gram/GloVe pre-aggregation for embedding training.  Pair "
        "generation is in-row (no positional self-join); only the final "
        "(w0, w1) agg shuffles (operators/wordcount.py:cooccurrence_counts).",
)
def q_cooccurrence_window(spark, sf_dir):
    from nonconsumptive_spark.operators.wordcount import cooccurrence_counts

    return cooccurrence_counts(load(spark, sf_dir, "documents"), window=4)


# --------------------------------------------------------------------------
@register(
    "q_distinctive_terms",
    oracle=f"""
    WITH cnt AS (
      SELECT lang AS label, w AS token, CAST(count(*) AS BIGINT) AS c_in
      FROM (SELECT lang, unnest({_DUCK_TOKS}) AS w FROM documents) z
      GROUP BY lang, w),
    gl AS (SELECT token, CAST(sum(c_in) AS BIGINT) AS c_g
             FROM cnt GROUP BY token),
    n_lbl AS (SELECT label, CAST(sum(c_in) AS BIGINT) AS n_in
              FROM cnt GROUP BY label),
    n_tot AS (SELECT CAST(sum(c_g) AS BIGINT) AS n_g FROM gl),
    scored AS (
      SELECT c.label, c.token, c.c_in,
             g.c_g - c.c_in AS c_out,
             round((ln((c.c_in + g.c_g)
                       / (l.n_in + t.n_g - c.c_in - g.c_g))
                    - ln(((g.c_g - c.c_in) + g.c_g)
                         / ((t.n_g - l.n_in) + t.n_g
                            - (g.c_g - c.c_in) - g.c_g)))
                   / sqrt(1.0 / (c.c_in + g.c_g)
                          + 1.0 / ((g.c_g - c.c_in) + g.c_g)), 4) + 0.0
               AS z_logodds
      FROM cnt c
      JOIN gl g ON g.token = c.token
      JOIN n_lbl l ON l.label = c.label
      CROSS JOIN n_tot t),
    ranked AS (
      SELECT label, token, c_in, c_out, z_logodds,
             CAST(row_number() OVER (PARTITION BY label
                                     ORDER BY z_logodds DESC, token ASC)
                  AS BIGINT) AS rank
      FROM scored)
    SELECT label, token, c_in, c_out, z_logodds, rank
    FROM ranked WHERE rank <= 10
    """,
    doc="Distinctive vocabulary per label by weighted log-odds with an "
        "informative Dirichlet prior (Monroe et al. 2008 'Fightin' "
        "Words') — each z is a pure function of five exact BIGINT counts, "
        "so parity needs only a mirrored expression "
        "(operators/textstats.py:distinctive_terms).",
)
def q_distinctive_terms(spark, sf_dir):
    return ts.distinctive_terms(load(spark, sf_dir, "documents"), k=10)


# --------------------------------------------------------------------------
@register(
    "q_negative_sampling",
    oracle=f"""
    WITH cnt AS (
      SELECT w AS token, CAST(count(*) AS BIGINT) AS count
      FROM (SELECT unnest({_DUCK_TOKS}) AS w FROM documents) z
      GROUP BY w),
    wq AS (
      SELECT token, count,
             CAST(round(sqrt(sqrt(CAST(count AS DOUBLE) * count * count))
                        * 1000000) AS BIGINT) AS weight_q
      FROM cnt)
    SELECT token, count, weight_q,
           CAST(sum(weight_q) OVER (ORDER BY token
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - weight_q AS BIGINT) AS cum_lo,
           CAST(sum(weight_q) OVER (ORDER BY token
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_hi
    FROM wq
    """,
    doc="word2vec negative-sampling table: tokens weighted count^0.75, "
        "quantized to integer 1e-6 units BEFORE the cumulative sum, laid "
        "out as disjoint BIGINT ranges in token order "
        "(operators/wordcount.py:negative_sampling_table).",
)
def q_negative_sampling(spark, sf_dir):
    from nonconsumptive_spark.operators.wordcount import (
        negative_sampling_table)

    return negative_sampling_table(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
def _boot_k_sql(m_expr: str) -> str:
    cases = " ".join(
        f"WHEN {m_expr} < {t} THEN {i}"
        for i, t in enumerate(ts.BOOT_CDF))
    return f"CASE {cases} ELSE {len(ts.BOOT_CDF)} END"


@register(
    "q_bootstrap_mean_ci",
    oracle=f"""
    WITH reps AS (SELECT unnest(range({ts.BOOT_REPS})) AS rep),
    base AS (
      SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS x, r.rep,
             CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#'
                                      || CAST(r.rep AS VARCHAR)), 1, 15))
                  AS BIGINT) % 1000000 AS m
      FROM documents d CROSS JOIN reps r),
    weighted AS (
      SELECT rep, x, {_boot_k_sql('m')} AS k FROM base),
    per_rep AS (
      SELECT rep, CAST(sum(k) AS BIGINT) AS w,
             CAST(sum(k * x) AS BIGINT) AS wx
      FROM weighted GROUP BY rep),
    means AS (
      SELECT rep,
             CASE WHEN w > 0 THEN wx * 1.0 / w ELSE 0.0 END AS rep_mean
      FROM per_rep),
    ranked AS (
      SELECT rep_mean,
             row_number() OVER (ORDER BY rep_mean ASC, rep ASC) AS rn
      FROM means),
    ci AS (
      SELECT CAST(count(*) AS BIGINT) AS n_reps,
             round(min(CASE WHEN rn = {max(1, -(-25 * ts.BOOT_REPS // 1000))}
                       THEN rep_mean END), 4) + 0.0 AS ci_lo,
             round(min(CASE WHEN rn = {max(1, -(-975 * ts.BOOT_REPS // 1000))}
                       THEN rep_mean END), 4) + 0.0 AS ci_hi
      FROM ranked),
    fullm AS (
      SELECT round(sum(CAST(n_chars AS BIGINT)) * 1.0 / count(*), 4) + 0.0
               AS mean
      FROM documents)
    SELECT ci.n_reps, fullm.mean, ci.ci_lo, ci.ci_hi
    FROM ci CROSS JOIN fullm
    """,
    doc="Poisson-bootstrap 95% CI for mean document length — the "
        "distributed bootstrap (each row enters each replicate Poisson(1) "
        "times via integer md5 thresholds, so replicate composition is "
        "pure BIGINT arithmetic and every replicate sum is map-side-"
        "combinable; no with-replacement shuffle exists) "
        "(operators/textstats.py:bootstrap_mean_ci).",
)
def q_bootstrap_mean_ci(spark, sf_dir):
    return ts.bootstrap_mean_ci(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_tfidf_cosine_pairs",
    oracle=f"""
    WITH counts AS (
      SELECT doc_id, w AS token, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS w FROM documents) z
      GROUP BY doc_id, w),
    dft AS (SELECT token, CAST(count(*) AS BIGINT) AS df
            FROM counts GROUP BY token),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    idf AS (
      SELECT token,
             CAST(round(ln(n.n_docs / d.df) * {ts.TFIDF_IDF_SCALE})
                  AS BIGINT) AS idf_q
      FROM dft d CROSS JOIN nd n),
    weighted AS (
      SELECT c.doc_id, c.token, CAST(c.c * i.idf_q AS BIGINT) AS wq
      FROM counts c JOIN idf i ON i.token = c.token
      WHERE c.c * i.idf_q <> 0),
    norms AS (
      SELECT doc_id, CAST(sum(wq * wq) AS BIGINT) AS n2
      FROM weighted GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(sum(a.wq * b.wq) AS BIGINT) AS dot
      FROM weighted a JOIN weighted b
        ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(dot * 1.0 / (sqrt(CAST(na.n2 AS DOUBLE))
                              * sqrt(CAST(nb.n2 AS DOUBLE))), 4) + 0.0
             AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    WHERE round(dot * 1.0 / (sqrt(CAST(na.n2 AS DOUBLE))
                             * sqrt(CAST(nb.n2 AS DOUBLE))), 4) + 0.0 >= 0.9
    """,
    doc="All-pairs TF-IDF cosine ≥ 0.9 — the sparse weighted-vector "
        "member of the pair family (Jaccard/containment are set-based). "
        "idf integer-quantized in the vocab LUT; weights, norms, and "
        "dots are exact BIGINTs "
        "(operators/textstats.py:tfidf_cosine_pairs).",
)
def q_tfidf_cosine_pairs(spark, sf_dir):
    return ts.tfidf_cosine_pairs(load(spark, sf_dir, "documents"),
                                 threshold=0.9)


# --------------------------------------------------------------------------
@register(
    "q_vocab_growth_curve",
    oracle=f"""
    WITH docsg AS (
      SELECT doc_id, coalesce(text, '') AS text FROM documents),
    bdocs AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 10 AS b,
             len({_DUCK_TOKS}) AS n_toks
      FROM docsg),
    tokb AS (
      SELECT w AS token, min(b) AS b_min FROM (
        SELECT unnest({_DUCK_TOKS}) AS w,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 10 AS b
        FROM docsg) z
      GROUP BY w),
    ks AS (SELECT unnest(range(1, 11)) AS k)
    SELECT k,
           CAST((SELECT count(*) FROM bdocs WHERE b < k) AS BIGINT) AS n_docs,
           CAST((SELECT coalesce(sum(n_toks), 0) FROM bdocs WHERE b < k)
                AS BIGINT) AS n_tokens,
           CAST((SELECT count(*) FROM tokb WHERE b_min < k) AS BIGINT)
             AS n_distinct
    FROM ks
    """,
    doc="Vocabulary growth curve under deterministic hash-decile corpus "
        "sampling (Heaps-law empirics as data, complementing the "
        "q_heaps_fit parameter fit).  Rank-free: a doc's decile is an md5 "
        "bucket and a token's first appearance is its MIN bucket, so the "
        "curve needs no global ordering — two aggs and a 10-row spine.",
)
def q_vocab_growth_curve(spark, sf_dir):
    from pyspark.sql import functions as F

    from nonconsumptive_spark.functions.text import tokenize
    from nonconsumptive_spark.operators.dedup import _md5_long

    docs = load(spark, sf_dir, "documents")
    b = F.pmod(_md5_long(F.col("doc_id").cast("string")), F.lit(10))
    bdocs = docs.select(
        b.alias("b"),
        F.size(tokenize(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long").alias("n_toks"))
    per_bucket = bdocs.groupBy("b").agg(
        F.count("*").cast("long").alias("d"),
        F.sum("n_toks").cast("long").alias("t"))
    tokb = (
        docs.select(b.alias("b"), F.explode(tokenize("text")).alias("token"))
        .groupBy("token").agg(F.min("b").alias("b_min"))
        .groupBy("b_min").agg(F.count("*").cast("long").alias("v"))
    )
    ks = docs.sparkSession.range(1, 11).select(F.col("id").cast("bigint").alias("k"))
    joined = (
        ks.join(F.broadcast(per_bucket), F.col("b") < F.col("k"), "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("d"), F.lit(0)).cast("long").alias("n_docs"),
             F.coalesce(F.sum("t"), F.lit(0)).cast("long").alias("n_tokens"))
    )
    vq = (
        ks.join(F.broadcast(tokb), F.col("b_min") < F.col("k"), "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("v"), F.lit(0)).cast("long").alias("n_distinct"))
    )
    return joined.join(vq, "k").select("k", "n_docs", "n_tokens", "n_distinct")


# --------------------------------------------------------------------------
@register(
    "q_length_quantiles_by_lang",
    oracle=f"""
    WITH q AS (
      SELECT lang, CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_toks
      FROM (SELECT lang, coalesce(text, '') AS text
            FROM documents) documents),
    n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY lang),
    dist AS (SELECT lang, n_toks, CAST(count(*) AS BIGINT) AS c
             FROM q GROUP BY lang, n_toks),
    cum AS (
      SELECT lang, n_toks,
             sum(c) OVER (PARTITION BY lang ORDER BY n_toks) AS cum
      FROM dist)
    SELECT c.lang,
           min(CASE WHEN c.cum >= ceil(0.25 * n.n) THEN c.n_toks END) AS p25,
           min(CASE WHEN c.cum >= ceil(0.50 * n.n) THEN c.n_toks END) AS p50,
           min(CASE WHEN c.cum >= ceil(0.75 * n.n) THEN c.n_toks END) AS p75,
           min(CASE WHEN c.cum >= ceil(0.95 * n.n) THEN c.n_toks END) AS p95
    FROM cum c JOIN n ON n.lang = c.lang
    GROUP BY c.lang
    """,
    doc="Exact per-language token-length quantiles (discrete P25/50/75/95) "
        "WITHOUT sorting documents: the winsorize cum-distribution trick — "
        "the only window runs over distinct (lang, length) rows.  All "
        "outputs exact BIGINTs.",
)
def q_length_quantiles_by_lang(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nonconsumptive_spark.functions.text import tokenize

    docs = load(spark, sf_dir, "documents")
    q = docs.select(
        "lang",
        F.size(tokenize(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long").alias("n_toks"))
    n = q.groupBy("lang").agg(F.count("*").cast("long").alias("n"))
    dist = q.groupBy("lang", "n_toks").agg(
        F.count("*").cast("long").alias("c"))
    w = (Window.partitionBy("lang").orderBy("n_toks")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = dist.select("lang", "n_toks", F.sum("c").over(w).alias("cum"))

    def pq(frac, name):
        return F.min(F.when(
            F.col("cum") >= F.ceil(F.lit(frac) * F.col("n")),
            F.col("n_toks"))).alias(name)

    return (
        cum.join(F.broadcast(n), "lang")
        .groupBy("lang")
        .agg(pq(0.25, "p25"), pq(0.50, "p50"),
             pq(0.75, "p75"), pq(0.95, "p95"))
    )


# --------------------------------------------------------------------------
_KWIC_TERM = "merge"
_KWIC_WIN = 3


@register(
    "q_kwic",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
    hits AS (
      SELECT doc_id, t,
             unnest(list_filter(range(1, len(t) + 1), i -> t[i] = '{_KWIC_TERM}'))
               AS pos
      FROM toks)
    SELECT doc_id, CAST(pos AS BIGINT) AS pos,
           coalesce(array_to_string(
             list_slice(t, greatest(pos - {_KWIC_WIN}, 1), pos - 1), ' '), '')
             AS left_ctx,
           coalesce(array_to_string(
             list_slice(t, pos + 1, pos + {_KWIC_WIN}), ' '), '')
             AS right_ctx
    FROM hits
    """,
    doc=f"Keyword-in-context concordance for '{_KWIC_TERM}' (±{_KWIC_WIN} "
        "tokens) — the classic nonconsumptive text-analytics surface "
        "(Bookworm-style concordance lines without exposing full text).  "
        "Occurrence positions and context windows are built IN-ROW from "
        "the token array (no explode of non-matching tokens, no shuffle "
        "beyond the scan).",
)
def q_kwic(spark, sf_dir):
    from pyspark.sql import functions as F

    from nonconsumptive_spark.functions.text import let, tokenize

    docs = load(spark, sf_dir, "documents")
    hits = let(tokenize("text"), lambda t: F.transform(
        F.filter(
            # sequence(1, 0) would DESCEND to [1, 0] and element_at(t, 0)
            # throws — emit an empty positions array for empty/NULL token
            # arrays instead.
            F.when(F.size(t) >= 1, F.sequence(F.lit(1), F.size(t)))
             .otherwise(F.array().cast("array<integer>")),
            lambda i: F.element_at(t, i) == F.lit(_KWIC_TERM),
        ),
        lambda i: F.struct(
            i.cast("long").alias("pos"),
            F.concat_ws(" ", F.slice(
                t, F.greatest(i - _KWIC_WIN, F.lit(1)),
                F.when(i - _KWIC_WIN >= 1, F.lit(_KWIC_WIN))
                 .otherwise(i - 1))).alias("left_ctx"),
            F.concat_ws(" ", F.slice(t, i + 1, _KWIC_WIN)).alias("right_ctx"),
        ),
    ))
    return (
        docs.select("doc_id", F.explode(hits).alias("h"))
        .select("doc_id", F.col("h.pos").alias("pos"),
                F.col("h.left_ctx").alias("left_ctx"),
                F.col("h.right_ctx").alias("right_ctx"))
    )


# --------------------------------------------------------------------------
@register(
    "q_logdice_collocations",
    oracle=f"""
    WITH tokpos AS (
      SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
             unnest({_DUCK_TOKS}) AS token
      FROM documents),
    bg AS (
      SELECT w0, w1, CAST(count(*) AS BIGINT) AS c2 FROM (
        SELECT doc_id, token AS w0,
               lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        FROM tokpos) z
      WHERE w1 IS NOT NULL GROUP BY w0, w1
      HAVING count(*) >= 5),
    uni AS (SELECT token, CAST(count(*) AS BIGINT) AS c1
            FROM tokpos GROUP BY token)
    SELECT b.w0, b.w1, b.c2,
           round(14.0 + log2(2.0 * b.c2 / (ua.c1 + ub.c1)), 4) + 0.0
             AS logdice
    FROM bg b
    JOIN uni ua ON ua.token = b.w0
    JOIN uni ub ON ub.token = b.w1
    """,
    doc="log-Dice collocation strength (Rychlý 2008, the Sketch Engine "
        "measure — bounded and corpus-size stable, unlike PMI).  Score "
        "is a pure function of three exact BIGINTs "
        "(operators/wordcount.py:logdice_collocations).",
)
def q_logdice_collocations(spark, sf_dir):
    from nonconsumptive_spark.operators.wordcount import logdice_collocations

    return logdice_collocations(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_hapax_stats",
    oracle=f"""
    WITH wc AS (
      SELECT w AS token, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest({_DUCK_TOKS}) AS w FROM documents) z
      GROUP BY w)
    SELECT CAST(count(*) AS BIGINT) AS v,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
             + 0.0 AS hapax_ratio
    FROM wc
    """,
    doc="Hapax/dis legomena statistics — the rare-type mass behind Heaps "
        "growth and OOV rates.  Pure integer aggregation over the global "
        "wordcount (operators/wordcount.py:hapax_stats).",
)
def q_hapax_stats(spark, sf_dir):
    from nonconsumptive_spark.operators.wordcount import hapax_stats

    return hapax_stats(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_token_entropy",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents),
    tc AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY doc_id, token),
    agg AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(c * CAST(floor(ln(c) * {ts.ENTROPY_LN_SCALE} + 0.5)
                               AS BIGINT)) AS BIGINT) AS s
      FROM tc GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(a.n_types, 0) AS BIGINT) AS n_types,
           CASE WHEN coalesce(a.n, 0) > 0
                THEN round(ln(a.n) - CAST(a.s AS DOUBLE)
                           / {ts.ENTROPY_LN_SCALE} / a.n, 4) + 0.0
                ELSE 0.0 END AS entropy_nats
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    doc="Per-document Shannon token entropy H = ln(n) - (1/n) sum c ln c "
        "— the diversity/boilerplate signal in Gopher-style quality rule "
        "sets.  ZERO-shuffle on the Spark side: the run-length encode and both "
        "entropy aggregates run in-row, so the query is a projection of "
        "the documents scan (operators/textstats.py:token_entropy); "
        "ln-counts quantized to exact 1e-9-nat BIGINTs for hash parity.",
)
def q_token_entropy(spark, sf_dir):
    return ts.token_entropy(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_kn_bigram_logprob",
    oracle=f"""
    WITH tokpos AS (
      SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
             unnest({_DUCK_TOKS}) AS token
      FROM documents),
    rws AS (
      SELECT doc_id,
             lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
             token AS cur
      FROM tokpos),
    big AS (
      SELECT prev, cur, CAST(count(*) AS BIGINT) AS c12
      FROM rws WHERE prev IS NOT NULL GROUP BY prev, cur),
    ctx AS (
      SELECT prev, CAST(sum(c12) AS BIGINT) AS c1,
             CAST(count(*) AS BIGINT) AS n1f
      FROM big GROUP BY prev),
    back AS (
      SELECT cur, CAST(count(*) AS BIGINT) AS n1b FROM big GROUP BY cur),
    tot AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM big) AS nbt,
             (SELECT CAST(count(DISTINCT cur) AS BIGINT) FROM rws) AS v),
    scored AS (
      SELECT r.doc_id,
             CAST(floor(ln(
               CASE WHEN r.prev IS NULL
                    THEN (coalesce(k.n1b, 0) + 1.0) / (t.nbt + t.v + 1)
                    ELSE greatest(coalesce(b.c12, 0) - {ts.KN_DISCOUNT}, 0.0)
                         / c.c1
                         + {ts.KN_DISCOUNT} * c.n1f / c.c1
                           * ((coalesce(k.n1b, 0) + 1.0) / (t.nbt + t.v + 1))
               END) * {ts.KN_LP_SCALE} + 0.5) AS BIGINT) AS lq
      FROM rws r
      LEFT JOIN big b ON b.prev = r.prev AND b.cur = r.cur
      LEFT JOIN ctx c ON c.prev = r.prev
      LEFT JOIN back k ON k.cur = r.cur
      CROSS JOIN tot t),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(lq) AS BIGINT) AS s
      FROM scored GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
           CASE WHEN coalesce(p.n_tokens, 0) > 0
                THEN round(CAST(p.s AS DOUBLE) / {ts.KN_LP_SCALE}
                           / p.n_tokens, 4) + 0.0
                ELSE 0.0 END AS avg_logprob
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
    doc="Kneser–Ney bigram LM scorer (absolute discount 0.75, add-one "
        "smoothed continuation) — the principled top rung of the CCNet "
        "perplexity ladder above q_unigram_logprob/q_bigram_logprob.  "
        "Per-token ln p quantized to exact 1e-9-nat BIGINTs so per-doc "
        "sums are summation-order-proof; bigram model join is a short-key "
        "equi-join, only the 1-row type totals broadcast "
        "(operators/textstats.py:kn_bigram_logprob_scores).",
)
def q_kn_bigram_logprob(spark, sf_dir):
    return ts.kn_bigram_logprob_scores(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_source_overlap_matrix",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, coalesce({_DUCK_TOKS}, []) AS t FROM documents),
    grams AS (
      SELECT doc_id, source, i AS pos,
             CAST(('0x' || substr(md5(array_to_string(t[i:i+{ts.WINNOW_K - 1}], ' ')), 1, 15))
                  AS BIGINT) AS h
      FROM toks, unnest(range(1, len(t) - {ts.WINNOW_K - 2})) AS r(i)),
    wins AS (
      SELECT source, pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {ts.WINNOW_W - 1} FOLLOWING) AS mh,
             count(*) OVER (PARTITION BY doc_id) AS n_grams
      FROM grams),
    sel AS (
      SELECT DISTINCT source, mh FROM wins
      WHERE pos <= n_grams - {ts.WINNOW_W - 1}),
    sizes AS (
      SELECT source, CAST(count(*) AS BIGINT) AS nf FROM sel GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM sel a JOIN sel b ON a.mh = b.mh AND a.source < b.source
      GROUP BY 1, 2),
    spine AS (
      SELECT sa.source AS source_a, sa.nf AS na,
             sb.source AS source_b, sb.nf AS nb
      FROM sizes sa JOIN sizes sb ON sa.source < sb.source)
    SELECT s.source_a, s.source_b,
           CAST(coalesce(i.n_shared, 0) AS BIGINT) AS n_shared,
           CASE WHEN s.na + s.nb - coalesce(i.n_shared, 0) > 0
                THEN ((2 * 10000 * coalesce(i.n_shared, 0)
                       + (s.na + s.nb - coalesce(i.n_shared, 0)))
                      // (2 * (s.na + s.nb - coalesce(i.n_shared, 0))))
                     / CAST(10000 AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END AS jaccard
    FROM spine s LEFT JOIN inter i USING (source_a, source_b)
    """,
    doc="Cross-source winnowing-fingerprint overlap matrix — which crawls "
        "share boilerplate/near-copies, the diagnostic behind "
        "cap-per-source and temperature-mix weights.  Per-source distinct "
        "fingerprint sets (one short-key agg), fingerprint equi-join for "
        "intersections (fan-out bounded by #sources per fingerprint), "
        "complete #sources^2 spine from the tiny size table; Jaccard by "
        "integer round-half-away (operators/textstats.py:"
        "source_overlap_matrix).",
)
def q_source_overlap_matrix(spark, sf_dir):
    return ts.source_overlap_matrix(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_nb_lang_confusion",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, lang, token, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, lang, unnest({_DUCK_TOKS}) AS token FROM documents)
      GROUP BY doc_id, lang, token),
    model AS (
      SELECT lang AS model_lang, token, CAST(sum(tf) AS BIGINT) AS c
      FROM tf GROUP BY lang, token),
    tot AS (
      SELECT model_lang, CAST(sum(c) AS BIGINT) AS n_l
      FROM model GROUP BY model_lang),
    voc AS (SELECT count(DISTINCT token) AS v FROM tf),
    pri AS (
      SELECT lang AS model_lang,
             CAST(floor(ln(count(*) * 1.0 /
                           (SELECT count(*) FROM documents)) * 1e9 + 0.5)
                  AS BIGINT) AS prior_q
      FROM documents GROUP BY lang),
    sums AS (
      SELECT t.doc_id, p.model_lang,
             CAST(sum(t.tf * CAST(floor(ln((coalesce(m.c, 0) + 1) * 1.0 /
                                           (tt.n_l + voc.v + 1)) * 1e9 + 0.5)
                                  AS BIGINT)) AS BIGINT) AS s
      FROM tf t
      CROSS JOIN (SELECT model_lang FROM pri) p
      LEFT JOIN model m ON m.model_lang = p.model_lang AND m.token = t.token
      JOIN tot tt ON tt.model_lang = p.model_lang
      CROSS JOIN voc
      GROUP BY t.doc_id, p.model_lang),
    scored AS (
      SELECT d.doc_id, d.lang AS actual, p.model_lang,
             p.prior_q + coalesce(s.s, 0) AS total
      FROM documents d
      CROSS JOIN pri p
      LEFT JOIN sums s ON s.doc_id = d.doc_id AND s.model_lang = p.model_lang),
    pred AS (
      SELECT doc_id, actual, model_lang AS predicted,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY total DESC, model_lang ASC) AS rn
      FROM scored)
    SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred WHERE rn = 1 GROUP BY actual, predicted
    """,
    doc="In-engine multinomial Naive Bayes classifier: train per-language "
        "token models on the corpus's own labels, score every doc, report "
        "the confusion matrix — the SQL-expressible stand-in for the "
        "fastText-style quality/domain classifiers LLM curation pipelines "
        "run.  All log-probs are 1e-9-nat integer-quantized before any "
        "sum, so the argmax compares exact BIGINTs on both engines.",
)
def q_nb_lang_confusion(spark, sf_dir):
    return ts.nb_lang_confusion(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
_RAKE_STOPS = "[" + ", ".join(f"'{w}'" for w in ts.LANG_STOPWORDS["en"]) + "]"


@register(
    "q_rake_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT list_transform({_DUCK_TOKS}, w -> lower(w)) AS t
      FROM documents WHERE lang = 'en'),
    runs AS (
      SELECT t,
             list_filter(generate_series(1, len(t)),
               p -> NOT list_contains({_RAKE_STOPS}, t[p])
                    AND (p = 1 OR list_contains({_RAKE_STOPS}, t[p-1])))
               AS starts,
             list_filter(generate_series(1, len(t)),
               p -> NOT list_contains({_RAKE_STOPS}, t[p])
                    AND (p = len(t) OR list_contains({_RAKE_STOPS}, t[p+1])))
               AS ends
      FROM toks WHERE len(t) > 0),
    occ AS (
      SELECT unnest(list_transform(generate_series(1, len(starts)),
               i -> array_to_string(t[starts[i]:ends[i]], ' '))) AS phrase
      FROM runs),
    occ2 AS (SELECT phrase FROM occ WHERE phrase <> ''),
    members AS (
      SELECT phrase, len(string_split(phrase, ' ')) AS plen,
             unnest(string_split(phrase, ' ')) AS word
      FROM occ2),
    ws AS (
      SELECT word, CAST(sum(plen) AS BIGINT) AS deg,
             CAST(count(*) AS BIGINT) AS freq
      FROM members GROUP BY word),
    po AS (
      SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ
      FROM occ2 GROUP BY phrase),
    pw AS (
      SELECT phrase, n_occ, unnest(string_split(phrase, ' ')) AS word
      FROM po),
    ps AS (
      SELECT pw.phrase, pw.n_occ,
             CAST(sum(({ts.RAKE_SCALE} * ws.deg) // ws.freq) AS BIGINT)
               AS score_q
      FROM pw JOIN ws USING (word)
      GROUP BY pw.phrase, pw.n_occ)
    SELECT phrase, n_occ,
           score_q / CAST({ts.RAKE_SCALE} AS DOUBLE) + 0.0 AS score
    FROM ps
    ORDER BY score_q DESC, phrase ASC
    LIMIT {ts.RAKE_K}
    """,
    doc="RAKE keyword extraction (Rose et al. 2010) over the en "
        "subcorpus: candidate phrases = maximal stopword-free token runs; "
        "word score = degree/frequency over phrase co-occurrence; phrase "
        "score = sum of member word scores.  Scores quantize deg/freq by "
        "integer division BEFORE the phrase sum, so the top-20 cut "
        "compares exact BIGINTs; extraction is in-row, the cut is "
        "TakeOrderedAndProject.",
)
def q_rake_keywords(spark, sf_dir):
    return ts.rake_keywords(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_psi_drift",
    oracle=f"""
    WITH vals AS (
      SELECT source AS src, CAST(n_chars AS BIGINT) AS v FROM documents),
    n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vals),
    dist AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM vals GROUP BY v),
    cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM dist),
    edges AS (
      SELECT g.k,
             (SELECT min(v) FROM cum, n1
              WHERE cum >= (g.k * n1.n + {ts.PSI_BINS - 1}) // {ts.PSI_BINS})
               AS e
      FROM generate_series(1, {ts.PSI_BINS - 1}) AS g(k)),
    earr AS (SELECT list(e ORDER BY k) AS es FROM edges),
    binned AS (
      SELECT src, 1 + len(list_filter(es, e -> v > e)) AS bin
      FROM vals, earr),
    counts AS (
      SELECT src, bin, CAST(count(*) AS BIGINT) AS c
      FROM binned GROUP BY src, bin),
    srcs AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM vals GROUP BY src),
    spine AS (
      SELECT s.src, s.n, g.k AS bin
      FROM srcs s, generate_series(1, {ts.PSI_BINS}) AS g(k)),
    fl AS (
      SELECT spine.src, spine.bin, spine.n, coalesce(c.c, 0) AS c
      FROM spine LEFT JOIN counts c
        ON c.src = spine.src AND c.bin = spine.bin),
    pairs AS (
      SELECT a.src AS source_a, b.src AS source_b,
             a.c AS ca, a.n AS na, b.c AS cb, b.n AS nb
      FROM fl a JOIN fl b ON a.bin = b.bin AND a.src < b.src)
    SELECT source_a, source_b,
           CAST(sum({ts.PSI_TERM_SQL}) AS BIGINT)
             / CAST({ts.PSI_SCALE} AS DOUBLE) + 0.0 AS psi
    FROM pairs GROUP BY source_a, source_b
    """,
    doc="Pairwise Population Stability Index between sources over exact "
        "global n_chars deciles (add-one smoothed) — the production "
        "drift metric for scalar features, completing the drift family "
        "(JSD = token distributions, overlap matrix = shared content).  "
        "Decile edges use the integer threshold (k*n+9) div 10 over the "
        "distinct-value cum-distribution; each bin term is one mirrored "
        "expression quantized to 1e-12 before the exact integer sum.",
)
def q_psi_drift(spark, sf_dir):
    return ts.psi_drift(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
def _logreg_oracle(t_rounds: int, d: int, lr_den: int) -> str:
    """Generated-CTE replay of the full logistic GD loop (the k-means/BPE
    oracle pattern): every round's weight update is floor-division exact
    via pmod-emulation, so negative gradients agree with Spark/Python."""
    from nonconsumptive_spark.operators.logreg import (
        LOGREG_E_SQL, LOGREG_LABEL_CHARS, LOGREG_LEN_CENTER)

    def fdiv(x):
        return f"({x} - ((({x} % m.m) + m.m) % m.m)) // m.m"

    langs = sorted(ts.LANG_STOPWORDS)
    feat_selects = "\n      UNION ALL\n".join(
        f"""      SELECT doc_id, {i} AS f,
             CAST(coalesce(len(list_filter({_DUCK_TOKS},
               x -> list_contains({_stoplist_sql(lang)}, lower(x)))), 0)
               AS BIGINT) AS cnt FROM documents"""
        for i, lang in enumerate(langs)
    )
    parts = [f"""
    WITH feats AS MATERIALIZED (
      SELECT doc_id, f, cnt FROM (
{feat_selects}
      UNION ALL
      SELECT doc_id, {len(langs)} AS f,
             CAST(coalesce(len({_DUCK_TOKS}), 0) - {LOGREG_LEN_CENTER}
               AS BIGINT) AS cnt
      FROM documents)
      WHERE cnt <> 0),
    yy AS (
      SELECT doc_id,
             CAST(CASE WHEN n_chars >= {LOGREG_LABEL_CHARS}
                  THEN 1 ELSE 0 END AS BIGINT) AS y
      FROM documents),
    mm AS (SELECT {lr_den} * count(*) AS m FROM documents),
    w0 AS (SELECT f, CAST(0 AS BIGINT) AS wq
           FROM generate_series(0, {d - 1}) AS g(f)),
    b0 AS (SELECT CAST(0 AS BIGINT) AS bq)"""]
    for r in range(1, t_rounds + 2):
        parts.append(f""",
    z{r} AS MATERIALIZED (
      SELECT yy.doc_id, yy.y, b.bq + coalesce(s.s, 0) AS zq
      FROM yy CROSS JOIN b{r - 1} b
      LEFT JOIN (SELECT feats.doc_id,
                        CAST(sum(feats.cnt * w.wq) AS BIGINT) AS s
                 FROM feats JOIN w{r - 1} w USING (f)
                 GROUP BY feats.doc_id) s USING (doc_id))""")
        if r == t_rounds + 1:
            break
        parts.append(f""",
    e{r} AS MATERIALIZED (SELECT doc_id, {LOGREG_E_SQL} AS eq FROM z{r}),
    g{r} AS MATERIALIZED (
      SELECT f, CAST(sum(cnt * eq) AS BIGINT) AS gq
      FROM feats JOIN e{r} USING (doc_id) GROUP BY f),
    gb{r} AS MATERIALIZED (SELECT CAST(sum(eq) AS BIGINT) AS gq FROM e{r}),
    w{r} AS MATERIALIZED (
      SELECT w.f, w.wq - {fdiv('coalesce(g.gq, 0)')} AS wq
      FROM w{r - 1} w LEFT JOIN g{r} g USING (f) CROSS JOIN mm m),
    b{r} AS MATERIALIZED (
      SELECT b.bq - {fdiv('g.gq')} AS bq
      FROM b{r - 1} b, gb{r} g, mm m)""")
    parts.append(f"""
    SELECT doc_id, zq AS score_q, zq >= 0 AS pred, y
    FROM z{t_rounds + 1}""")
    return "".join(parts)


def _logreg_oracle_default() -> str:
    from nonconsumptive_spark.operators.logreg import (
        LOGREG_D, LOGREG_LR_DEN, LOGREG_T)

    return _logreg_oracle(LOGREG_T, LOGREG_D, LOGREG_LR_DEN)


@register(
    "q_logreg_train",
    oracle=_logreg_oracle_default(),
    doc="In-engine logistic regression TRAINED by 4 rounds of full-batch "
        "gradient descent over hashed token-count features (y = lang=='en') "
        "— the trained complement to the closed-form NB classifier, and "
        "the third iterative-replay oracle (after k-means and BPE): the "
        "DuckDB side replays every GD round as generated CTEs.  Weights "
        "are 1e-9-unit BIGINTs, the sigmoid is ONE shared mirrored "
        "expression quantized per doc before any sum, updates are "
        "pmod-exact floor divisions, and the output is the raw integer "
        "logit — no float ever reaches the result.",
)
def q_logreg_train(spark, sf_dir):
    from nonconsumptive_spark.operators.logreg import logreg_train_scores

    return logreg_train_scores(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Mutual information between two categorical metadata columns — the
# dataset-card association number ("how much does source determine
# language?") that guides stratification and mixing decisions.  All
# probabilities are ratios of exact BIGINT counts; each cell's
# contribution n_ls·ln(n_ls·n/(n_l·n_s)) is ONE mirrored expression
# string floored to integer 1e-9-nat units before the (tiny,
# #cells-sized) sum, so MI in nats is exact-integer-derived on both
# engines.
_MI_SCALE = 10**9
# columns in scope: n_ls, n_l, n_s, n (all BIGINT)
_MI_TERM = (
    "CAST(floor(CAST(n_ls AS DOUBLE)"
    " * ln(CAST(n_ls AS DOUBLE) * n / (CAST(n_l AS DOUBLE) * n_s))"
    f" * {float(_MI_SCALE)}) AS BIGINT)"
)


@register(
    "q_lang_source_mi",
    oracle=f"""
    WITH cells AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n_ls
      FROM documents GROUP BY lang, source),
    ml AS (SELECT lang, CAST(sum(n_ls) AS BIGINT) AS n_l FROM cells GROUP BY lang),
    ms AS (SELECT source, CAST(sum(n_ls) AS BIGINT) AS n_s FROM cells GROUP BY source),
    nt AS (SELECT CAST(sum(n_ls) AS BIGINT) AS n FROM cells),
    terms AS (
      SELECT {_MI_TERM} AS tq, n
      FROM cells JOIN ml USING (lang) JOIN ms USING (source) CROSS JOIN nt)
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(tq) AS BIGINT) AS mi_q,
           round(CAST(sum(tq) AS DOUBLE) / (max(n) * {float(_MI_SCALE)}), 6)
             + 0.0 AS mi_nats
    FROM terms
    """,
    doc="Mutual information I(lang; source) in nats over the documents "
        "table.  One corpus-sized (lang, source) agg; marginals and totals "
        "are re-aggs of the #cells-sized frame; per-cell ln terms are one "
        "shared expression string quantized to 1e-9-nat BIGINTs before the "
        "sum.  Near-zero MI says sources are language-balanced; high MI "
        "says language is source-determined (stratify before splitting).",
)
def q_lang_source_mi(spark, sf_dir):
    from pyspark.sql import functions as F

    cells = (
        load(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").cast("long").alias("n_ls"))
    )
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    cells = materialize_once(cells, "mi_cells")
    ml = cells.groupBy("lang").agg(F.sum("n_ls").cast("long").alias("n_l"))
    ms = cells.groupBy("source").agg(F.sum("n_ls").cast("long").alias("n_s"))
    nt = cells.agg(F.sum("n_ls").cast("long").alias("n"))
    terms = (
        cells.join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .crossJoin(F.broadcast(nt))
        .selectExpr(f"{_MI_TERM} AS tq", "n")
    )
    return terms.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("tq").cast("long").alias("mi_q"),
        (F.round(F.sum("tq").cast("double") / (F.max("n") * _MI_SCALE), 6)
         + F.lit(0.0)).alias("mi_nats"),
    )


# --------------------------------------------------------------------------
# Classical two-sample / independence tests over corpus metadata — the
# statistics companions to the drift family (q_psi_drift, q_js_divergence):
# PSI/JSD say "how different", these say "is the difference significant".
# All inputs are exact BIGINT moments/counts; floats appear only in
# mirrored expression strings shared verbatim by both engines.

# per-source mean and variance/n from exact moments (columns n, s, ss)
_WELCH_M = "CAST(s AS DOUBLE) / n"
_WELCH_VN = "((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)) / n"
# pair expressions (columns m1, vn1, n1, m2, vn2, n2)
_WELCH_T = "round((m1 - m2) / sqrt(vn1 + vn2), 4) + 0.0"
_WELCH_DF = (
    "round((vn1 + vn2) * (vn1 + vn2)"
    " / (vn1 * vn1 / (n1 - 1) + vn2 * vn2 / (n2 - 1)), 2) + 0.0"
)


@register(
    "q_welch_ttest_sources",
    oracle=f"""
    WITH mom AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS s,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS ss
      FROM documents GROUP BY source),
    sided AS (
      SELECT source, n, {_WELCH_M} AS m, {_WELCH_VN} AS vn FROM mom),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.n AS n1, a.m AS m1, a.vn AS vn1,
             b.n AS n2, b.m AS m2, b.vn AS vn2
      FROM sided a JOIN sided b ON a.source < b.source)
    SELECT source_a, source_b,
           CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
           {_WELCH_T} AS t_stat, {_WELCH_DF} AS welch_df
    FROM pairs
    """,
    doc="Pairwise Welch's unequal-variance t-test on document length "
        "(n_chars) between every pair of sources, with the "
        "Welch-Satterthwaite degrees of freedom.  Moments are one exact "
        "BIGINT agg per source; every float (mean, var/n, t, df) is a "
        "mirrored expression string over those integers.  Plan: one "
        "map-side-combinable #sources-group agg; the pair frame is the "
        "#sources^2 broadcast self-join (source_overlap_matrix pattern).",
)
def q_welch_ttest_sources(spark, sf_dir):
    from pyspark.sql import functions as F

    mom = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("s"),
            F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("ss"),
        )
    )
    sided = mom.selectExpr(
        "source", "n", f"{_WELCH_M} AS m", f"{_WELCH_VN} AS vn")
    a = sided.select(
        F.col("source").alias("source_a"), F.col("n").alias("n1"),
        F.col("m").alias("m1"), F.col("vn").alias("vn1"))
    b = sided.select(
        F.col("source").alias("source_b"), F.col("n").alias("n2"),
        F.col("m").alias("m2"), F.col("vn").alias("vn2"))
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("source_a") < F.col("source_b"))
        .selectExpr(
            "source_a", "source_b",
            "CAST(n1 AS BIGINT) AS n_a", "CAST(n2 AS BIGINT) AS n_b",
            f"{_WELCH_T} AS t_stat", f"{_WELCH_DF} AS welch_df",
        )
    )


# chi-squared term over a (possibly zero-observed) cell: columns n_ls,
# n_l, n_s, n; expected e = n_l*n_s/n, term = (n_ls - e)^2 / e, quantized
# to 1e-6 units before the (#cells-sized) sum
_CHI2_SCALE = 10**6
_CHI2_TERM = (
    "CAST(floor((CAST(n_ls AS DOUBLE) - CAST(n_l AS DOUBLE) * n_s / n)"
    " * (CAST(n_ls AS DOUBLE) - CAST(n_l AS DOUBLE) * n_s / n)"
    f" / (CAST(n_l AS DOUBLE) * n_s / n) * {float(_CHI2_SCALE)}) AS BIGINT)"
)


@register(
    "q_lang_source_chi2",
    oracle=f"""
    WITH cells AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY lang, source),
    ml AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_l FROM cells GROUP BY lang),
    ms AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM cells GROUP BY source),
    nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
    grid AS (
      SELECT ml.lang, ms.source, ml.n_l, ms.n_s, nt.n,
             COALESCE(c.c, 0) AS n_ls
      FROM ml CROSS JOIN ms CROSS JOIN nt
      LEFT JOIN cells c ON c.lang = ml.lang AND c.source = ms.source),
    terms AS (SELECT {_CHI2_TERM} AS tq FROM grid),
    dims AS (
      SELECT (SELECT count(*) FROM ml) AS nl, (SELECT count(*) FROM ms) AS ns)
    SELECT CAST((SELECT count(*) FROM terms) AS BIGINT) AS n_cells,
           CAST((SELECT (nl - 1) * (ns - 1) FROM dims) AS BIGINT) AS dof,
           CAST((SELECT sum(tq) FROM terms) AS BIGINT) AS chi2_q,
           round(CAST((SELECT sum(tq) FROM terms) AS DOUBLE)
                 / {float(_CHI2_SCALE)}, 4) + 0.0 AS chi2
    """,
    doc="Chi-squared independence test for lang x source (the hypothesis "
        "test behind q_lang_source_mi's effect size).  The FULL grid "
        "including zero-observed cells enters the sum (a zero cell "
        "contributes its expectation).  Per-cell terms are one mirrored "
        "expression quantized to 1e-6 units before the #cells-sized sum; "
        "dof = (L-1)(S-1).  Plan: one corpus-sized (lang, source) agg; "
        "everything else is re-aggs and cross joins of tiny frames.",
)
def q_lang_source_chi2(spark, sf_dir):
    from pyspark.sql import functions as F

    from nonconsumptive_spark.plans.checkpoint import materialize_once

    cells = (
        load(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").cast("long").alias("c"))
    )
    cells = materialize_once(cells, "chi2_cells")
    ml = cells.groupBy("lang").agg(F.sum("c").cast("long").alias("n_l"))
    ms = cells.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    nt = cells.agg(F.sum("c").cast("long").alias("n"))
    grid = (
        ml.crossJoin(F.broadcast(ms))
        .crossJoin(F.broadcast(nt))
        .join(cells, ["lang", "source"], "left")
        .select(
            "n_l", "n_s", "n",
            F.coalesce("c", F.lit(0)).cast("long").alias("n_ls"),
        )
    )
    terms = grid.selectExpr(f"{_CHI2_TERM} AS tq")
    dims = (
        ml.agg(F.count("*").alias("nl"))
        .crossJoin(ms.agg(F.count("*").alias("ns")))
    )
    return (
        terms.agg(
            F.count("*").cast("long").alias("n_cells"),
            F.sum("tq").cast("long").alias("chi2_q"),
        )
        .crossJoin(F.broadcast(dims))
        .selectExpr(
            "n_cells",
            "CAST((nl - 1) * (ns - 1) AS BIGINT) AS dof",
            "chi2_q",
            f"round(CAST(chi2_q AS DOUBLE) / {float(_CHI2_SCALE)}, 4)"
            " + 0.0 AS chi2",
        )
        .select("n_cells", "dof", "chi2_q", "chi2")
    )


# --------------------------------------------------------------------------
@register(
    "q_ks_length_sources",
    oracle="""
    WITH counts AS (
      SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY source, n_chars),
    vals AS (SELECT DISTINCT v FROM counts),
    srcs AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY source),
    grid AS (
      SELECT s.source, s.n, vl.v, COALESCE(c.c, 0) AS c
      FROM srcs s CROSS JOIN vals vl
      LEFT JOIN counts c ON c.source = s.source AND c.v = vl.v),
    cdf AS (
      SELECT source, n, v,
             CAST(sum(c) OVER (
               PARTITION BY source ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum
      FROM grid),
    diffs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.n AS n_a, b.n AS n_b,
             abs(a.cum * b.n - b.cum * a.n) AS d
      FROM cdf a JOIN cdf b ON a.v = b.v AND a.source < b.source)
    SELECT source_a, source_b, n_a, n_b,
           CAST(max(d) AS BIGINT) AS ks_q,
           round(CAST(max(d) AS DOUBLE) / (max(n_a) * max(n_b)), 6) + 0.0
             AS ks_stat
    FROM diffs GROUP BY source_a, source_b, n_a, n_b
    """,
    doc="Pairwise two-sample Kolmogorov-Smirnov statistic on document "
        "length between every pair of sources — EXACT by cross-"
        "multiplication: sup|F_a - F_b| = max|cum_a*n_b - cum_b*n_a| / "
        "(n_a*n_b), so the supremum is taken over pure BIGINTs and the "
        "single division happens once at output.  Plan: one (source, "
        "value) agg; the CDF window runs over the #sources x #distinct-"
        "values grid (corpus-size independent), and the pair join on the "
        "value spine is bounded by #sources^2 x #values.",
)
def q_ks_length_sources(spark, sf_dir):
    from pyspark.sql import Window, functions as F

    from nonconsumptive_spark.plans.checkpoint import materialize_once

    counts = (
        load(spark, sf_dir, "documents")
        .groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    counts = materialize_once(counts, "ks_counts")
    vals = counts.select("v").distinct()
    srcs = counts.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    grid = (
        srcs.crossJoin(F.broadcast(vals))
        .join(counts, ["source", "v"], "left")
        .select("source", "n", "v", F.coalesce("c", F.lit(0)).alias("c"))
    )
    w = (
        Window.partitionBy("source").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cdf = grid.select(
        "source", "n", "v", F.sum("c").over(w).cast("long").alias("cum"))
    a = cdf.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"),
                   "v", F.col("cum").alias("cum_a"))
    b = cdf.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"),
                   "v", F.col("cum").alias("cum_b"))
    diffs = (
        a.join(b, "v")
        .filter(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a", "source_b", "n_a", "n_b",
            F.abs(F.col("cum_a") * F.col("n_b")
                  - F.col("cum_b") * F.col("n_a")).alias("d"),
        )
    )
    return (
        diffs.groupBy("source_a", "source_b", "n_a", "n_b")
        .agg(F.max("d").cast("long").alias("ks_q"))
        .select(
            "source_a", "source_b", "n_a", "n_b", "ks_q",
            (F.round(F.col("ks_q").cast("double")
                     / (F.col("n_a") * F.col("n_b")), 6)
             + F.lit(0.0)).alias("ks_stat"),
        )
    )


# --------------------------------------------------------------------------
# Mann-Whitney U completes the two-sample family: Welch assumes
# near-normal means, KS weighs the whole CDF; MWU is the standard
# rank-based location test.  Integer exactness via DOUBLED midranks:
# with combined per-value tie size c and prior cumulative C, the midrank
# is C + (c+1)/2, so 2·midrank = 2C + c + 1 is an integer — R2 = Σ c_a ·
# (2C + c + 1) and 2U = R2 - n_a(n_a+1) are pure BIGINTs.  The normal
# z (tie-corrected variance) is the one mirrored float expression.
_MWU_Z = (
    "CASE WHEN CAST(n1 AS DOUBLE) * n2 / 12.0"
    " * ((n1 + n2 + 1) - CAST(tsum AS DOUBLE)"
    "    / ((n1 + n2) * (n1 + n2 - 1.0))) > 0"
    " THEN round((u2 / 2.0 - CAST(n1 AS DOUBLE) * n2 / 2.0)"
    "  / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0"
    "     * ((n1 + n2 + 1) - CAST(tsum AS DOUBLE)"
    "        / ((n1 + n2) * (n1 + n2 - 1.0)))), 4) + 0.0"
    " ELSE CAST(0.0 AS DOUBLE) END"
)


@register(
    "q_mann_whitney_sources",
    oracle=f"""
    WITH counts AS (
      SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY source, n_chars),
    vals AS (SELECT DISTINCT v FROM counts),
    srcs AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY source),
    grid AS (
      SELECT s.source, s.n, vl.v, COALESCE(c.c, 0) AS c
      FROM srcs s CROSS JOIN vals vl
      LEFT JOIN counts c ON c.source = s.source AND c.v = vl.v),
    cdf AS (
      SELECT source, n, v, c,
             CAST(sum(c) OVER (
               PARTITION BY source ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum
      FROM grid),
    pairv AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.n AS n1, b.n AS n2,
             a.c AS ca, b.c AS cb,
             a.cum AS cuma, b.cum AS cumb
      FROM cdf a JOIN cdf b ON a.v = b.v AND a.source < b.source),
    agg AS (
      SELECT source_a, source_b, n1, n2,
             CAST(sum(ca * (2 * ((cuma - ca) + (cumb - cb))
                            + (ca + cb) + 1)) AS BIGINT) AS r2,
             CAST(sum((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
               AS BIGINT) AS tsum
      FROM pairv GROUP BY source_a, source_b, n1, n2),
    stats AS (
      SELECT source_a, source_b, n1, n2, tsum,
             CAST(r2 - n1 * (n1 + 1) AS BIGINT) AS u2
      FROM agg)
    SELECT source_a, source_b,
           CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
           u2 AS u2_q,
           round(CAST(u2 AS DOUBLE) / 2, 1) + 0.0 AS u_stat,
           {_MWU_Z} AS z_stat
    FROM stats
    """,
    doc="Pairwise Mann-Whitney U on document length between every pair "
        "of sources, midrank tie handling.  Doubled midranks keep R2 and "
        "2U exact BIGINTs (2·midrank = 2·C_prev + tie + 1); the tie-"
        "corrected normal z is one mirrored expression with a zero-"
        "variance guard.  Plan: same #sources x #distinct-values grid as "
        "the KS query — no window or join ever sees document rows.",
)
def q_mann_whitney_sources(spark, sf_dir):
    from pyspark.sql import Window, functions as F

    from nonconsumptive_spark.plans.checkpoint import materialize_once

    counts = (
        load(spark, sf_dir, "documents")
        .groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    counts = materialize_once(counts, "mwu_counts")
    vals = counts.select("v").distinct()
    srcs = counts.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    grid = (
        srcs.crossJoin(F.broadcast(vals))
        .join(counts, ["source", "v"], "left")
        .select("source", "n", "v", F.coalesce("c", F.lit(0)).alias("c"))
    )
    w = (
        Window.partitionBy("source").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cdf = grid.select(
        "source", "n", "v", "c", F.sum("c").over(w).cast("long").alias("cum"))
    a = cdf.select(F.col("source").alias("source_a"), F.col("n").alias("n1"),
                   "v", F.col("c").alias("ca"), F.col("cum").alias("cuma"))
    b = cdf.select(F.col("source").alias("source_b"), F.col("n").alias("n2"),
                   "v", F.col("c").alias("cb"), F.col("cum").alias("cumb"))
    pairv = a.join(b, "v").filter(F.col("source_a") < F.col("source_b"))
    tie = F.col("ca") + F.col("cb")
    agg = (
        pairv.groupBy("source_a", "source_b", "n1", "n2")
        .agg(
            F.sum(
                F.col("ca")
                * (2 * ((F.col("cuma") - F.col("ca"))
                        + (F.col("cumb") - F.col("cb"))) + tie + 1)
            ).cast("long").alias("r2"),
            F.sum(tie * tie * tie - tie).cast("long").alias("tsum"),
        )
    )
    stats = agg.select(
        "source_a", "source_b", "n1", "n2", "tsum",
        (F.col("r2") - F.col("n1") * (F.col("n1") + 1))
        .cast("long").alias("u2"),
    )
    return stats.selectExpr(
        "source_a", "source_b",
        "CAST(n1 AS BIGINT) AS n_a", "CAST(n2 AS BIGINT) AS n_b",
        "u2 AS u2_q",
        "round(CAST(u2 AS DOUBLE) / 2, 1) + 0.0 AS u_stat",
        f"{_MWU_Z} AS z_stat",
    )


# --------------------------------------------------------------------------
# Spearman rank correlation between two per-document integers (n_chars vs
# token count) — the robust association number for a dataset card (is
# char length a faithful proxy for token length?).  Ranks are tie-midranks
# in DOUBLED form (the MWU trick: 2·midrank = 2·C_prev + tie + 1, pure
# BIGINT), so every Pearson moment over the rank pairs is an exact BIGINT
# and rho is ONE mirrored expression of six integers.
_SPEARMAN_RHO = (
    "CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0"
    " THEN round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
    "  / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    "       * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)"
    "  + 0.0"
    " ELSE CAST(0.0 AS DOUBLE) END"
)
_DUCK_NTOK = ("len(list_filter(regexp_split_to_array(coalesce(text, ''),"
              " '[^\\pL]+'), x -> x <> ''))")


@register(
    "q_spearman_len_tokens",
    oracle=f"""
    WITH vals AS (
      SELECT doc_id, n_chars AS x, {_DUCK_NTOK} AS y FROM documents),
    xr AS (
      SELECT x, CAST(count(*) AS BIGINT) AS c FROM vals GROUP BY x),
    xc AS (
      SELECT x, 2 * (CAST(sum(c) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) - c) + c + 1 AS r2 FROM xr),
    yr AS (
      SELECT y, CAST(count(*) AS BIGINT) AS c FROM vals GROUP BY y),
    yc AS (
      SELECT y, 2 * (CAST(sum(c) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) - c) + c + 1 AS r2 FROM yr),
    ranked AS (
      SELECT xc.r2 AS rx, yc.r2 AS ry
      FROM vals JOIN xc USING (x) JOIN yc USING (y)),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
             CAST(sum(rx * ry) AS BIGINT) AS sxy,
             CAST(sum(rx * rx) AS BIGINT) AS sxx,
             CAST(sum(ry * ry) AS BIGINT) AS syy
      FROM ranked)
    SELECT n, {_SPEARMAN_RHO} AS spearman_rho FROM mom
    """,
    doc="Spearman rank correlation between n_chars and token count over "
        "all documents, tie-midrank handling via the doubled-midrank "
        "integer trick — every moment an exact BIGINT, rho one mirrored "
        "guarded expression.  Plan: two distinct-value cum windows "
        "(bounded by distinct values, never document rows) broadcast "
        "back onto the scan; one 1-row moment agg.",
)
def q_spearman_len_tokens(spark, sf_dir):
    from pyspark.sql import Window, functions as F

    from nonconsumptive_spark.functions.text import tokenize
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    vals = materialize_once(
        load(spark, sf_dir, "documents").select(
            F.col("n_chars").alias("x"),
            F.size(tokenize(F.coalesce(F.col("text"), F.lit(""))))
            .cast("long").alias("y"),
        ),
        "spearman_vals",
    )

    def rank2(col):
        cnt = vals.groupBy(col).agg(F.count("*").cast("long").alias("c"))
        w = (Window.orderBy(col)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        return cnt.select(
            col,
            (2 * (F.sum("c").over(w).cast("long") - F.col("c"))
             + F.col("c") + 1).cast("long").alias("r2"),
        )

    ranked = (
        vals.join(F.broadcast(rank2("x")), "x")
        .withColumnRenamed("r2", "rx")
        .join(F.broadcast(rank2("y")), "y")
        .withColumnRenamed("r2", "ry")
    )
    mom = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rx").cast("long").alias("sx"),
        F.sum("ry").cast("long").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).cast("long").alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).cast("long").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("long").alias("syy"),
    )
    return mom.selectExpr("n", f"{_SPEARMAN_RHO} AS spearman_rho")


# Gini coefficient of the global token-frequency distribution — the
# corpus-concentration scalar (how much of the corpus a few types
# account for), companion to Zipf's slope and Heaps' law.  With tokens
# ranked ascending by frequency and ties on the doubled-midrank trick
# (same integer device as q_spearman_len_tokens), every moment is an
# exact BIGINT:  G = (sum_f f*m_f*r2_f - (n+1)*T) / (n*T), where r2 is
# the doubled midrank, m_f the number of types at frequency f, and
# T = sum of all token occurrences.  One mirrored division at the end.
_GINI = (
    "CASE WHEN n > 0 AND t > 0"
    " THEN round((CAST(sr AS DOUBLE) - CAST((n + 1) * t AS DOUBLE))"
    "      / (CAST(n AS DOUBLE) * t), 6) + 0.0"
    " ELSE CAST(0.0 AS DOUBLE) END"
)


@register(
    "q_gini_tokens",
    oracle=f"""
    WITH freq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS f
      FROM (SELECT unnest({_DUCK_TOKS}) AS token FROM documents)
      GROUP BY token),
    grp AS (
      SELECT f, CAST(count(*) AS BIGINT) AS m FROM freq GROUP BY f),
    mid AS (
      SELECT f, m,
             2 * (CAST(sum(m) OVER (ORDER BY f
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) - m) + m + 1 AS r2
      FROM grp),
    mom AS (
      SELECT CAST(sum(m) AS BIGINT) AS n,
             CAST(sum(f * m) AS BIGINT) AS t,
             CAST(sum(f * m * r2) AS BIGINT) AS sr
      FROM mid)
    SELECT n AS n_types, t AS total_tokens, {_GINI} AS gini
    FROM mom
    """,
    doc="Gini coefficient of global token frequencies (population form, "
        "frequencies ranked ascending, tie groups via doubled midranks so "
        "the sum is order-independent and exactly integer).  Plan: global "
        "wordcount shuffle, then a distinct-frequency frame (bounded by "
        "distinct frequency VALUES, not types) with one cum-window and a "
        "1-row moment agg.",
)
def q_gini_tokens(spark, sf_dir):
    from pyspark.sql import Window, functions as F

    from nonconsumptive_spark.functions.text import tokenize

    docs = load(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokenize("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("f"))
    )
    grp = freq.groupBy("f").agg(F.count("*").cast("long").alias("m"))
    w = (Window.orderBy("f")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    mid = grp.select(
        "f", "m",
        (2 * (F.sum("m").over(w).cast("long") - F.col("m"))
         + F.col("m") + 1).cast("long").alias("r2"),
    )
    mom = mid.agg(
        F.sum("m").cast("long").alias("n"),
        F.sum(F.col("f") * F.col("m")).cast("long").alias("t"),
        F.sum(F.col("f") * F.col("m") * F.col("r2")).cast("long").alias("sr"),
    )
    return mom.selectExpr("n AS n_types", "t AS total_tokens",
                          f"{_GINI} AS gini")


@register(
    "q_skyline_docs",
    oracle=f"""
    WITH pts AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
             CAST(len(list_distinct(coalesce({_DUCK_TOKS}, []))) AS BIGINT)
               AS y
      FROM documents)
    SELECT p.doc_id, p.x AS n_chars, p.y AS n_types
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))
    """,
    doc="2-D skyline (Pareto frontier) of documents maximizing (n_chars, "
        "distinct token types) — the weight-free curation selection rule: "
        "keep docs no other doc beats on both axes.  Spark side is the "
        "two-phase plan in operators/skyline.py (bucket-local running-max "
        "windows, then an exact pass over the bounded survivor frame); the "
        "oracle is the quadratic NOT-EXISTS definition, fine at oracle "
        "scale and a labeled non-plan.",
)
def q_skyline_docs(spark, sf_dir):
    from pyspark.sql import functions as F

    from nonconsumptive_spark.functions.text import tokenize
    from nonconsumptive_spark.operators.skyline import skyline

    pts = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("x"),
        F.size(F.array_distinct(
            tokenize(F.coalesce(F.col("text"), F.lit("")))))
        .cast("long").alias("y"),
    )
    return skyline(pts, "x", "y").select(
        "doc_id", F.col("x").alias("n_chars"), F.col("y").alias("n_types")
    )


@register(
    "q_burrows_delta",
    oracle=f"""
    WITH cells AS (
      SELECT source AS g, token, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT source, unnest({_DUCK_TOKS}) AS token FROM documents)
      GROUP BY 1, 2),
    totals AS (SELECT g, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY g),
    markers AS (
      SELECT token
      FROM (SELECT token, CAST(sum(c) AS BIGINT) AS gc FROM cells GROUP BY token)
      ORDER BY gc DESC, token ASC LIMIT {ts.DELTA_TOP_M}),
    grid AS (
      SELECT tt.g, m.token,
             (COALESCE(c.c, 0) * {ts.DELTA_FSCALE}) // tt.t AS fq
      FROM totals tt CROSS JOIN markers m
      LEFT JOIN cells c ON c.g = tt.g AND c.token = m.token),
    mom AS (
      SELECT token, CAST(count(*) AS BIGINT) AS s,
             CAST(sum(fq) AS BIGINT) AS sf,
             CAST(sum(fq * fq) AS BIGINT) AS sff
      FROM grid GROUP BY token),
    z AS (
      SELECT g, grid.token,
             CASE WHEN s * sff - sf * sf > 0
               THEN CAST(floor(CAST(s * fq - sf AS DOUBLE)
                    / sqrt(CAST(s * sff - sf * sf AS DOUBLE))
                    * {ts.DELTA_ZSCALE}) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS zq
      FROM grid JOIN mom ON grid.token = mom.token)
    SELECT a.g AS source_a, b.g AS source_b,
           round(CAST(sum(abs(a.zq - b.zq)) AS DOUBLE)
                 / ({ts.DELTA_TOP_M}.0 * {ts.DELTA_ZSCALE}), 4) + 0.0 AS delta
    FROM z a JOIN z b ON a.token = b.token AND a.g < b.g
    GROUP BY 1, 2
    """,
    doc=f"Burrows' Delta stylometric distance between every source pair "
        f"over the {ts.DELTA_TOP_M} most frequent marker words.  Relative "
        "frequencies and z-scores are integer-quantized (the DSIR "
        "playbook) so no float accumulation order reaches the output.  "
        "Plan: one (source, token) shuffle; everything after is bounded "
        "by sources x M.",
)
def q_burrows_delta(spark, sf_dir):
    return ts.burrows_delta(load(spark, sf_dir, "documents"))


# Priority sampling (Duffield-Lund-Thorup): weight-proportional sample
# with per-item estimation weights, fully deterministic and engine-
# portable — the priority w/u uses only IEEE-exact or correctly-rounded
# ops (long->double cast, division), so both engines compute bit-equal
# priorities from the shared md5-derived u.  The estimator weight is
# max(w, tau) with tau the (k+1)-th priority; sum(est) is an unbiased
# estimate of total weight over any subset.
_PRIO_K = 20
_PRIO_POW2 = float(1 << 60)


@register(
    "q_weighted_sample",
    oracle=f"""
    WITH pri AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
             CAST(n_chars AS DOUBLE)
             / ((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) + 1) / {_PRIO_POW2}) AS p
      FROM documents WHERE n_chars > 0),
    top1 AS (
      SELECT doc_id, w, p,
             row_number() OVER (ORDER BY p DESC, doc_id ASC) AS rk
      FROM (SELECT * FROM pri ORDER BY p DESC, doc_id ASC
            LIMIT {_PRIO_K + 1})),
    tau AS (SELECT min(p) AS tau FROM top1)
    SELECT doc_id, w AS n_chars,
           round(greatest(CAST(w AS DOUBLE), tau), 4) + 0.0 AS est_weight
    FROM top1 CROSS JOIN tau WHERE rk <= {_PRIO_K}
    """,
    doc=f"Weight-proportional priority sample of {_PRIO_K} documents "
        "(weights = n_chars) with Duffield-Lund-Thorup estimation "
        "weights max(w, tau).  Engine-portable randomness: u derives "
        "from the md5 of the id, and the priority w/u touches only "
        "IEEE-correctly-rounded ops, so the sampled SET is bit-agreed.  "
        "Plan: zero-shuffle priority map, TakeOrdered k+1 cut, 1-row "
        "tau attach onto a k-row frame.",
)
def q_weighted_sample(spark, sf_dir):
    from pyspark.sql import Window, functions as F

    from nonconsumptive_spark.operators.dedup import _md5_long

    pri = (
        load(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            F.col("n_chars").cast("long").alias("w"),
            (F.col("n_chars").cast("double")
             / ((_md5_long(F.col("doc_id").cast("string")) + 1)
                / F.lit(_PRIO_POW2))).alias("p"),
        )
    )
    top1 = (
        pri.orderBy(F.desc("p"), F.asc("doc_id")).limit(_PRIO_K + 1)
        .withColumn("rk", F.row_number().over(
            Window.orderBy(F.desc("p"), F.asc("doc_id"))))
    )
    tau = top1.agg(F.min("p").alias("tau"))
    return (
        top1.crossJoin(F.broadcast(tau))
        .filter(F.col("rk") <= _PRIO_K)
        .selectExpr("doc_id", "w AS n_chars",
                    "round(greatest(CAST(w AS DOUBLE), tau), 4) + 0.0"
                    " AS est_weight")
    )


_SKY_DIMS = [("n_data", "data"), ("n_table", "table"), ("n_spark", "spark")]
_SKY_PTS = ", ".join(
    f"CAST(len(list_filter(t, x -> x = '{w}')) AS BIGINT) AS {c}"
    for c, w in _SKY_DIMS
)
_SKY_DOM = " AND ".join(f"q.{c} >= p.{c}" for c, _ in _SKY_DIMS)
_SKY_STRICT = " OR ".join(f"q.{c} > p.{c}" for c, _ in _SKY_DIMS)


@register(
    "q_skyline_kd",
    oracle=f"""
    WITH base AS (SELECT doc_id, coalesce({_DUCK_TOKS}, []) AS t
                  FROM documents),
    pts AS (SELECT doc_id, {_SKY_PTS} FROM base)
    SELECT p.* FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE {_SKY_DOM} AND ({_SKY_STRICT}))
    """,
    doc="3-D skyline (coordinate-wise maximal points) of documents over "
        "competing term-count criteria (counts of 'data'/'table'/'spark') "
        "— beyond 2-D the running-max window trick no longer applies, so "
        "the Spark plan is the bucketed applyInPandas maximal-points "
        "kernel + exact survivor-union pass (operators/skyline.py "
        "skyline_kd).  Oracle is the quadratic NOT-EXISTS dominance "
        "definition — a labeled non-plan, exact at oracle scale.",
)
def q_skyline_kd(spark, sf_dir):
    from pyspark.sql import functions as F

    from nonconsumptive_spark.functions.text import tokenize
    from nonconsumptive_spark.operators.skyline import skyline_kd

    docs = load(spark, sf_dir, "documents")
    toks = tokenize(F.coalesce(F.col("text"), F.lit("")))

    def term_count(word):
        # closure factory, NOT a default-arg lambda: a 2-param HOF lambda
        # would receive (element, index) and shadow the bound word
        return F.size(F.filter(toks, lambda x: x == F.lit(word)))

    pts = docs.select(
        "doc_id",
        *[term_count(w).cast("long").alias(c) for c, w in _SKY_DIMS],
    )
    return skyline_kd(pts, [c for c, _ in _SKY_DIMS])


_PRIO_GRP_K = 5


@register(
    "q_priority_sample_group",
    oracle=f"""
    WITH pri AS (
      SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w,
             CAST(n_chars AS DOUBLE)
             / ((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) + 1) / {_PRIO_POW2}) AS p
      FROM documents WHERE n_chars > 0),
    rk AS (
      SELECT source, doc_id, w,
             row_number() OVER (PARTITION BY source
                                ORDER BY p DESC, doc_id ASC) AS rk
      FROM pri)
    SELECT source, doc_id, w AS n_chars FROM rk WHERE rk <= {_PRIO_GRP_K}
    """,
    doc=f"Per-stratum weight-proportional priority sample: within each "
        f"source keep the top-{_PRIO_GRP_K} docs by the Duffield-Lund-"
        "Thorup priority w/u (weights = n_chars, u from the id's md5 — "
        "engine-portable, the q_weighted_sample argument, per group).  "
        "The window partitions BY GROUP, so parallelism is #groups and "
        "no global sort exists; per-group state is k rows.",
)
def q_priority_sample_group(spark, sf_dir):
    from pyspark.sql import functions as F

    return ts.priority_sample_by_group(
        load(spark, sf_dir, "documents")
        .select("source", "doc_id", F.col("n_chars").cast("long").alias("w")),
        "source", "w", _PRIO_GRP_K,
    ).select("source", "doc_id", F.col("w").alias("n_chars"))


_KANON_K = 5
_KANON_BIN = 200


@register(
    "q_k_anonymity",
    oracle=f"""
    WITH cls AS (
      SELECT source, CAST(n_chars // {_KANON_BIN} AS BIGINT) AS len_bin,
             CAST(count(*) AS BIGINT) AS class_size
      FROM documents GROUP BY 1, 2)
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(CASE WHEN class_size < {_KANON_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS risky_classes,
           CAST(sum(CASE WHEN class_size < {_KANON_K} THEN class_size
                    ELSE 0 END) AS BIGINT) AS rows_to_suppress,
           CAST(sum(class_size) AS BIGINT) AS n_rows,
           round(CAST(sum(CASE WHEN class_size < {_KANON_K} THEN class_size
                          ELSE 0 END) AS DOUBLE)
                 / sum(class_size), 4) + 0.0 AS suppress_frac
    FROM cls
    """,
    doc=f"k-anonymity release-safety rollup (k={_KANON_K}) over the "
        f"quasi-identifier pair (source, n_chars//{_KANON_BIN}): classes, "
        "risky classes (< k members, re-identifiable), rows needing "
        "suppression and the suppression fraction.  One groupBy on the "
        "quasi columns then a 1-row agg — nothing scales past the class "
        "count.",
)
def q_k_anonymity(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents").select(
        "source",
        F.floor(F.col("n_chars") / _KANON_BIN).cast("long").alias("len_bin"),
    )
    return ts.k_anonymity_summary(docs, ["source", "len_bin"], k=_KANON_K)
