"""Ranker and classifier evaluation queries: ranking metrics (nDCG, MRR,
MAP, RBP, ERR, AP), classifier readouts (AUC, precision/recall/F1,
kappa, gain and uplift charts) and calibration (bins, Brier, isotonic,
pinball loss).

Rankers and labels are built from the test tables themselves (lexical vs
semantic relevance, embedding labels, lang-id predictions), so each
metric is oracle-checked end to end with exact integer-quantized sums.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nonconsumptive_spark.queries import _DUCK_TOKS, load, register


# -- nDCG@k of the lexical ranker vs semantic pseudo-relevance -------------
def _ndcg_oracle() -> str:
    from nonconsumptive_spark.operators import hybrid as hy
    from nonconsumptive_spark.queries.hybrid import _LEX_CTES, _SEM_CTES, _N_Q

    disc = hy.ndcg_discounts()
    # elements carry an explicit BIGINT cast: a bare list literal types
    # INT32 and gain * discount overflows before any outer cast applies
    disc_sql = "[" + ", ".join(f"{d}::BIGINT" for d in disc) + "]"
    return f"""
    WITH {_LEX_CTES},
    {_SEM_CTES},
    rel AS (
      SELECT query_id, cand_id,
             CASE WHEN sem_rank <= {hy.NDCG_HI_CUT} THEN 3 ELSE 1 END AS gain
      FROM semt),
    dcg AS (
      SELECT l.query_id,
             CAST(sum(COALESCE(r.gain, 0) * {disc_sql}[l.lex_rank])
                  AS BIGINT) AS dcg_q
      FROM lext l LEFT JOIN rel r
        ON r.query_id = l.query_id AND r.cand_id = l.cand_id
      WHERE l.lex_rank <= {hy.NDCG_K} GROUP BY 1),
    ideal AS (
      SELECT query_id, gain,
             row_number() OVER (
               PARTITION BY query_id ORDER BY gain DESC, cand_id ASC) AS ir
      FROM rel),
    idcg AS (
      SELECT query_id, CAST(sum(gain * {disc_sql}[ir]) AS BIGINT) AS idcg_q
      FROM ideal WHERE ir <= {hy.NDCG_K} GROUP BY 1),
    nrel AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel FROM rel GROUP BY 1)
    SELECT n.query_id, n.n_rel,
           CAST(COALESCE(d.dcg_q, 0) AS BIGINT) AS dcg_q, i.idcg_q,
           round(COALESCE(d.dcg_q, 0) / i.idcg_q, 6) + 0.0 AS ndcg
    FROM nrel n LEFT JOIN dcg d USING (query_id) JOIN idcg i USING (query_id)
    """


@register("q_ndcg_eval", _ndcg_oracle(),
          doc="nDCG@k of the lexical ranker against semantic truth: "
              "per-query rank joins on the bounded k-row frame, exact "
              "integer-quantized gain sums.")
def q_ndcg_eval(spark, sf_dir):
    from nonconsumptive_spark.operators.hybrid import ndcg_eval
    from nonconsumptive_spark.queries.hybrid import _N_Q

    return ndcg_eval(load(spark, sf_dir, "documents"),
                     load(spark, sf_dir, "embeddings"), n_queries=_N_Q)


# -- one-vs-rest ROC AUC over the embedding table ---------------------------
def _auc_oracle() -> str:
    from nonconsumptive_spark.operators.evaluation import AUC_SCALE

    return f"""
    WITH base AS (
      SELECT label AS lbl,
             CAST(floor(CAST(embedding[1] AS DOUBLE) * {AUC_SCALE} + 0.5)
                  AS BIGINT) AS sq
      FROM embeddings),
    hist AS (SELECT lbl, sq, CAST(count(*) AS BIGINT) AS c
             FROM base GROUP BY lbl, sq),
    spine AS (SELECT DISTINCT lbl AS label FROM hist),
    pb AS (
      SELECT s.label, h.sq,
             CAST(sum(h.c) AS BIGINT) AS cnt,
             CAST(sum(CASE WHEN h.lbl = s.label THEN h.c ELSE 0 END)
                  AS BIGINT) AS np_b
      FROM hist h CROSS JOIN spine s
      GROUP BY s.label, h.sq),
    rk AS (
      SELECT label, cnt, np_b,
             sum(cnt) OVER (PARTITION BY label ORDER BY sq
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - cnt AS cum_before
      FROM pb),
    agg AS (
      SELECT label,
             CAST(sum(np_b * (2 * cum_before + cnt + 1)) AS BIGINT) AS s2,
             CAST(sum(np_b) AS BIGINT) AS n_pos,
             CAST(sum(cnt) AS BIGINT) AS n
      FROM rk GROUP BY label)
    SELECT label, n_pos, n - n_pos AS n_neg,
           CASE WHEN n_pos > 0 AND n - n_pos > 0 THEN
             round(CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
                   / (2.0 * n_pos * (n - n_pos)), 6) + 0.0
           END AS auc
    FROM agg
    """


@register("q_auc_eval", _auc_oracle())
def q_auc_eval(spark, sf_dir):
    """One-vs-rest ROC AUC of the first embedding coordinate against each
    class label — the grading primitive for every scorer in the curation
    pipeline (quality filters, langid, dedup scorers)."""
    from nonconsumptive_spark.operators.evaluation import auc_one_vs_rest

    emb = load(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").getItem(0).alias("score"))
    return auc_one_vs_rest(emb, label_col="label", score_col="score")


# -- MRR / MAP ranker evaluation --------------------------------------------
def _mrr_oracle() -> str:
    from nonconsumptive_spark.operators import hybrid as hy
    from nonconsumptive_spark.queries.hybrid import _LEX_CTES, _SEM_CTES

    k, sc = hy.NDCG_K, hy.MAP_SCALE
    return f"""
    WITH {_LEX_CTES},
    {_SEM_CTES},
    rel AS (SELECT query_id, cand_id FROM semt),
    ranked AS (
      SELECT l.query_id, l.lex_rank,
             CASE WHEN r.cand_id IS NULL THEN 0 ELSE 1 END AS hit
      FROM lext l LEFT JOIN rel r
        ON r.query_id = l.query_id AND r.cand_id = l.cand_id
      WHERE l.lex_rank <= {k}),
    cums AS (
      SELECT query_id, lex_rank, hit,
             CAST(sum(hit) OVER (
               PARTITION BY query_id ORDER BY lex_rank
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum
      FROM ranked),
    perq AS (
      SELECT query_id,
             CAST(min(CASE WHEN hit = 1 THEN lex_rank END) AS BIGINT)
               AS first_rel,
             CAST(max(cum) AS BIGINT) AS hits_at_k,
             CAST(sum(CASE WHEN hit = 1 THEN
               CAST(floor(CAST({sc} AS DOUBLE) * cum / lex_rank + 0.5)
                    AS BIGINT) ELSE 0 END) AS BIGINT) AS ap_q
      FROM cums GROUP BY 1),
    nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
             FROM rel GROUP BY 1)
    SELECT n.query_id, n.n_rel, p.first_rel,
           CAST(coalesce(p.hits_at_k, 0) AS BIGINT) AS hits_at_k,
           round(CAST(1.0 AS DOUBLE) / p.first_rel, 6) + 0.0 AS rr,
           coalesce(round((CAST(p.ap_q AS DOUBLE) / {sc})
                          / least(n.n_rel, {k}), 6) + 0.0, 0.0) AS ap
    FROM nrel n LEFT JOIN perq p USING (query_id)
    """


@register("q_mrr_map_eval", _mrr_oracle(),
          doc="MRR/MAP of the lexical ranker against semantic "
              "truth on the bounded per-query candidate frame.")
def q_mrr_map_eval(spark, sf_dir):
    from nonconsumptive_spark.operators.hybrid import mrr_map_eval
    from nonconsumptive_spark.queries.hybrid import _N_Q

    return mrr_map_eval(load(spark, sf_dir, "documents"),
                        load(spark, sf_dir, "embeddings"), n_queries=_N_Q)


# -- calibration bins / reliability diagram ---------------------------------
def _cal_oracle() -> str:
    from nonconsumptive_spark.operators.evaluation import CAL_BINS, CAL_SCALE

    return f"""
    WITH base AS (
      SELECT least(CAST(floor(
               ((greatest(CAST(-1.0 AS DOUBLE),
                          least(CAST(1.0 AS DOUBLE),
                                CAST(embedding[1] AS DOUBLE)))
                 + CAST(1.0 AS DOUBLE)) / CAST(2.0 AS DOUBLE))
               * {CAL_BINS}) AS BIGINT), {CAL_BINS - 1}) AS bin,
             CAST(floor(
               ((greatest(CAST(-1.0 AS DOUBLE),
                          least(CAST(1.0 AS DOUBLE),
                                CAST(embedding[1] AS DOUBLE)))
                 + CAST(1.0 AS DOUBLE)) / CAST(2.0 AS DOUBLE))
               * {CAL_SCALE} + 0.5) AS BIGINT) AS pq,
             CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
      FROM embeddings),
    agg AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(pq) AS BIGINT) AS spq
      FROM base GROUP BY bin)
    SELECT bin, n, n_pos,
           round(CAST(spq AS DOUBLE) / (n * {CAL_SCALE}), 6) + 0.0
             AS avg_conf,
           round(CAST(n_pos AS DOUBLE) / n, 6) + 0.0 AS pos_rate,
           round(abs(CAST(spq AS DOUBLE) / (n * {CAL_SCALE})
                     - CAST(n_pos AS DOUBLE) / n), 6) + 0.0 AS gap
    FROM agg
    """


@register("q_calibration_bins", _cal_oracle(),
          doc="Reliability-diagram bins (operators/evaluation"
              ".calibration_bins, pos_value=0 for the synthetic labels): "
              "CAL_SCALE integer confidence sums, one 10-row agg.")
def q_calibration_bins(spark, sf_dir):
    from nonconsumptive_spark.operators.evaluation import calibration_bins

    emb = load(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").getItem(0).alias("score"))
    # pos_value=0 explicitly: the synthetic embeddings table encodes its
    # positive class as label 0 (the operator default is the usual 1)
    return calibration_bins(emb, label_col="label", score_col="score",
                            pos_value=0)


# -- bigram LM hit@k on a held-out split ------------------------------------
_LMH_K = 3


@register(
    "q_lm_hit_at_k",
    f"""
    WITH split AS (
      SELECT doc_id, {_DUCK_TOKS} AS t,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 10000 < 9800 AS is_train
      FROM documents),
    big AS (
      SELECT doc_id, is_train, t[i] AS w1, t[i + 1] AS w2
      FROM split,
           unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS r(i)),
    train AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
      FROM big WHERE is_train GROUP BY w1, w2),
    topk AS (
      SELECT w1, w2 FROM (
        SELECT w1, w2,
               row_number() OVER (PARTITION BY w1
                                  ORDER BY c DESC, w2 ASC) AS rk
        FROM train)
      WHERE rk <= {_LMH_K}),
    held AS (SELECT w1, w2 FROM big WHERE NOT is_train),
    scored AS (
      SELECT h.w1, h.w2,
             EXISTS (SELECT 1 FROM train t WHERE t.w1 = h.w1) AS covered,
             EXISTS (SELECT 1 FROM topk k
                     WHERE k.w1 = h.w1 AND k.w2 = h.w2) AS hit
      FROM held h)
    SELECT CAST(count(*) AS BIGINT) AS n_eval,
           CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
             AS n_covered,
           CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS hits,
           round(CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) + 0.0 AS coverage,
           round(CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE)
                 / sum(CASE WHEN covered THEN 1 ELSE 0 END), 6) + 0.0
             AS hit_rate
    FROM scored
    """,
)
def q_lm_hit_at_k(spark, sf_dir):
    """Next-token hit@k backtest of the corpus bigram LM: train bigram
    counts on the hash-split train docs, then ask — for each held-out
    bigram whose head was seen in training — whether the true
    continuation sits in the head's top-{k} by count.  The deployment-
    shaped LM eval beside perplexity (it measures the ranking the model
    would actually serve).  Plan: one train-bigram agg, a head-
    partitioned top-k window (vocab-bounded), two left semi-ish joins;
    one summary row."""
    from pyspark.sql import Window

    from nonconsumptive_spark.functions.text import tokenize
    from nonconsumptive_spark.operators.textstats import split_expr

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", tokenize("text").alias("t"),
        (split_expr("doc_id") == "train").alias("is_train"))
    big = docs.select(
        "is_train",
        F.explode(F.zip_with(
            F.slice("t", 1, F.greatest(F.size("t") - 1, F.lit(0))),
            F.slice("t", 2, F.greatest(F.size("t") - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )).alias("g"),
    ).select("is_train", "g.w1", "g.w2")
    train = (
        big.filter("is_train").groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.partitionBy("w1").orderBy(F.desc("c"), F.asc("w2"))
    topk = (
        train.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _LMH_K).select("w1", "w2")
    )
    held = big.filter(~F.col("is_train")).select("w1", "w2")
    heads = train.select("w1").distinct().withColumn("cv", F.lit(1))
    hits = topk.withColumn("ht", F.lit(1))
    scored = (
        held.join(F.broadcast(heads), "w1", "left")
        .join(F.broadcast(hits), ["w1", "w2"], "left")
        .select(F.coalesce("cv", F.lit(0)).alias("covered"),
                F.coalesce("ht", F.lit(0)).alias("hit"))
    )
    return scored.agg(
        F.count("*").cast("long").alias("n_eval"),
        F.sum("covered").cast("long").alias("n_covered"),
        F.sum("hit").cast("long").alias("hits"),
    ).select(
        "n_eval", "n_covered", "hits",
        (F.round(F.col("n_covered").cast("double") / F.col("n_eval"), 6)
         + F.lit(0.0)).alias("coverage"),
        (F.round(F.col("hits").cast("double") / F.col("n_covered"), 6)
         + F.lit(0.0)).alias("hit_rate"),
    )


# -- rank-biased precision ---------------------------------------------------
def _rbp_oracle() -> str:
    from nonconsumptive_spark.operators import hybrid as hy
    from nonconsumptive_spark.queries.hybrid import _LEX_CTES, _SEM_CTES

    k = hy.NDCG_K
    warr = "[" + ", ".join(f"{w}::BIGINT" for w in hy.rbp_weights(k)) + "]"
    return f"""
    WITH {_LEX_CTES},
    {_SEM_CTES},
    rel AS (SELECT query_id, cand_id FROM semt),
    wq AS (
      SELECT l.query_id,
             CAST(sum(CASE WHEN r.cand_id IS NULL THEN 0
                           ELSE {warr}[l.lex_rank] END) AS BIGINT) AS wq
      FROM lext l LEFT JOIN rel r
        ON r.query_id = l.query_id AND r.cand_id = l.cand_id
      WHERE l.lex_rank <= {k} GROUP BY 1),
    nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
             FROM rel GROUP BY 1)
    SELECT n.query_id, n.n_rel,
           round(CAST(coalesce(w.wq, 0) AS DOUBLE) / {hy.MAP_SCALE}, 6)
             + 0.0 AS rbp
    FROM nrel n LEFT JOIN wq w USING (query_id)
    """


@register("q_rbp_eval", _rbp_oracle(),
          doc="Rank-biased precision of the lexical ranker: geometric "
              "weights on the bounded k-row rank frame.")
def q_rbp_eval(spark, sf_dir):
    from nonconsumptive_spark.operators.hybrid import rbp_eval
    from nonconsumptive_spark.queries.hybrid import _N_Q

    return rbp_eval(load(spark, sf_dir, "documents"),
                    load(spark, sf_dir, "embeddings"), n_queries=_N_Q)


# -- Cohen's kappa: lang-id prediction vs labeled lang ------------------------
def _kappa_oracle() -> str:
    from nonconsumptive_spark.queries.textstats import (
        _CASE_PRED, _HIT_EXPRS, _LANGS)

    hits = ", ".join("hits_" + lg for lg in _LANGS)
    return f"""
    WITH pred AS (
      SELECT doc_id, lang, {_CASE_PRED} AS pred_lang
      FROM (
        SELECT doc_id, lang, greatest({hits}) AS m, {hits}
        FROM (
          SELECT doc_id, lang,
{_HIT_EXPRS}
          FROM (SELECT doc_id, lang, coalesce(text, '') AS text
                FROM documents) documents))),
    conf AS (
      SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY lang, pred_lang),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS n_docs,
             CAST(coalesce(sum(CASE WHEN lang = pred_lang THEN n END), 0)
                  AS BIGINT) AS n_agree
      FROM conf),
    rows_ AS (SELECT lang AS lbl, CAST(sum(n) AS BIGINT) AS r
              FROM conf GROUP BY lang),
    cols_ AS (SELECT pred_lang AS lbl, CAST(sum(n) AS BIGINT) AS c
              FROM conf GROUP BY pred_lang),
    pe AS (
      SELECT CAST(coalesce(sum(r * c), 0) AS BIGINT) AS pe_num
      FROM rows_ JOIN cols_ USING (lbl))
    SELECT n_docs, n_agree, pe_num,
           round(CAST(n_agree AS DOUBLE) / n_docs, 6) + 0.0 AS po,
           round(CAST(pe_num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * n_docs),
                 6) + 0.0 AS pe,
           CASE WHEN n_docs * n_docs - pe_num <> 0
                THEN round(CAST(n_docs * n_agree - pe_num AS DOUBLE)
                           / (CAST(n_docs AS DOUBLE) * n_docs - pe_num), 6)
                     + 0.0
                ELSE CAST(0.0 AS DOUBLE) END AS kappa
    FROM tot CROSS JOIN pe
    """


@register("q_cohens_kappa", _kappa_oracle())
def q_cohens_kappa(spark, sf_dir):
    """Cohen's kappa between the stopword-vote language-ID prediction and
    the labeled lang column: chance-corrected agreement, the standard
    upgrade to raw accuracy when the label distribution is skewed.
    kappa = (N*agree - sum_l row_l*col_l) / (N^2 - sum_l row_l*col_l) —
    every input is an exact BIGINT off the <=|langs|^2 confusion matrix,
    so the single mirrored division is the only float.  Plan: one lang-id
    scan + confusion agg; all downstream frames are label-sized."""
    from nonconsumptive_spark.operators import textstats as ts

    from nonconsumptive_spark.plans.checkpoint import materialize_once

    docs = load(spark, sf_dir, "documents")
    # label carried through the lang-id projection — no doc-keyed join
    # back to the corpus for a column this scan already read (r8);
    # the <=|langs|^2 confusion matrix materializes once because THREE
    # consumers read it (tot, rows_, cols_) and each would otherwise
    # re-run the full lang-id scan (r8: 2.1 -> 0.6 s warm)
    conf = materialize_once(
        ts.lang_id(docs, extra_cols=("lang",))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n")),
        "kappa_conf",
    )
    tot = conf.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.coalesce(
            F.sum(F.when(F.col("lang") == F.col("pred_lang"), F.col("n"))),
            F.lit(0)).cast("long").alias("n_agree"),
    )
    rows_ = conf.groupBy(F.col("lang").alias("lbl")).agg(
        F.sum("n").cast("long").alias("r"))
    cols_ = conf.groupBy(F.col("pred_lang").alias("lbl")).agg(
        F.sum("n").cast("long").alias("c"))
    pe = (
        rows_.join(cols_, "lbl")
        .agg(F.coalesce(F.sum(F.col("r") * F.col("c")), F.lit(0))
             .cast("long").alias("pe_num"))
    )
    nn = F.col("n_docs").cast("double") * F.col("n_docs")
    return (
        tot.crossJoin(F.broadcast(pe))
        .select(
            "n_docs", "n_agree", "pe_num",
            (F.round(F.col("n_agree").cast("double") / F.col("n_docs"), 6)
             + F.lit(0.0)).alias("po"),
            (F.round(F.col("pe_num").cast("double") / nn, 6)
             + F.lit(0.0)).alias("pe"),
            F.when(
                F.col("n_docs") * F.col("n_docs") - F.col("pe_num") != 0,
                F.round(
                    (F.col("n_docs") * F.col("n_agree") - F.col("pe_num"))
                    .cast("double") / (nn - F.col("pe_num")), 6)
                + F.lit(0.0))
            .otherwise(F.lit(0.0)).alias("kappa"),
        )
    )


# -- Brier score + Murphy decomposition ----------------------------------------
_BR_SCALE = 10**9


def _brier_oracle() -> str:
    from nonconsumptive_spark.operators.evaluation import CAL_BINS, CAL_SCALE

    ph = ("((greatest(CAST(-1.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE), "
          "CAST(embedding[1] AS DOUBLE))) + CAST(1.0 AS DOUBLE)) "
          "/ CAST(2.0 AS DOUBLE))")
    return f"""
    WITH base AS (
      SELECT least(CAST(floor({ph} * {CAL_BINS}) AS BIGINT),
                   {CAL_BINS - 1}) AS bin,
             CAST(floor({ph} * {CAL_SCALE} + 0.5) AS BIGINT) AS pq,
             CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos,
             CAST(floor(({ph} - CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END)
                        * ({ph} - CASE WHEN label = 0
                                       THEN 1.0 ELSE 0.0 END)
                        * {_BR_SCALE}) AS BIGINT) AS bq
      FROM embeddings),
    bins AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(pq) AS BIGINT) AS spq
      FROM base GROUP BY bin),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nt,
             CAST(sum(n_pos) AS BIGINT) AS npt,
             CAST((SELECT sum(bq) FROM base) AS BIGINT) AS sbq
      FROM bins),
    terms AS (
      SELECT CAST(sum(CAST(floor(
               n * (CAST(spq AS DOUBLE) / (n * {CAL_SCALE})
                    - CAST(n_pos AS DOUBLE) / n)
                 * (CAST(spq AS DOUBLE) / (n * {CAL_SCALE})
                    - CAST(n_pos AS DOUBLE) / n) * {_BR_SCALE})
               AS BIGINT)) AS BIGINT) AS rel_q,
             CAST(sum(CAST(floor(
               n * (CAST(n_pos AS DOUBLE) / n
                    - CAST(npt AS DOUBLE) / nt)
                 * (CAST(n_pos AS DOUBLE) / n
                    - CAST(npt AS DOUBLE) / nt) * {_BR_SCALE})
               AS BIGINT)) AS BIGINT) AS res_q
      FROM bins CROSS JOIN tot)
    SELECT nt AS n,
           round(CAST(sbq AS DOUBLE) / nt / {_BR_SCALE}, 6) + 0.0 AS brier,
           round(CAST(rel_q AS DOUBLE) / nt / {_BR_SCALE}, 6) + 0.0
             AS reliability,
           round(CAST(res_q AS DOUBLE) / nt / {_BR_SCALE}, 6) + 0.0
             AS resolution,
           round((CAST(npt AS DOUBLE) / nt)
                 * (1.0 - CAST(npt AS DOUBLE) / nt), 6) + 0.0
             AS uncertainty
    FROM terms CROSS JOIN tot
    """


@register("q_brier_decomposition", _brier_oracle())
def q_brier_decomposition(spark, sf_dir):
    """Brier score + Murphy (1973) decomposition over the calibration
    bins: brier (direct, per-row squared error), reliability (bin
    confidence vs bin outcome), resolution (bin outcome vs base rate),
    uncertainty (base-rate variance) — the one-number companions to the
    q_calibration_bins table (brier ≈ rel - res + unc up to the
    within-bin variance the binning hides).  Every squared term
    quantizes to a 1e-9 BIGINT the instant it is produced, so all
    cross-row/cross-bin sums are exact.  Plan: one 10-bin agg + two
    1-row attaches on a zero-shuffle scan."""
    from nonconsumptive_spark.operators.evaluation import CAL_BINS, CAL_SCALE

    emb = load(spark, sf_dir, "embeddings")
    clipped = F.greatest(F.lit(-1.0), F.least(
        F.lit(1.0), F.col("embedding").getItem(0).cast("double")))
    ph = (clipped + F.lit(1.0)) / F.lit(2.0)
    y = F.when(F.col("label") == 0, F.lit(1.0)).otherwise(F.lit(0.0))
    base = emb.select(
        F.least(F.floor(ph * CAL_BINS).cast("long"),
                F.lit(CAL_BINS - 1)).alias("bin"),
        F.floor(ph * CAL_SCALE + F.lit(0.5)).cast("long").alias("pq"),
        (F.col("label") == 0).cast("long").alias("pos"),
        F.floor((ph - y) * (ph - y) * _BR_SCALE).cast("long").alias("bq"),
    )
    from nonconsumptive_spark.plans.checkpoint import materialize_once
    base = materialize_once(base, "brier_base")
    bins = base.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("pq").cast("long").alias("spq"),
    )
    tot = (
        bins.agg(F.sum("n").cast("long").alias("nt"),
                 F.sum("n_pos").cast("long").alias("npt"))
        .crossJoin(F.broadcast(
            base.agg(F.sum("bq").cast("long").alias("sbq"))))
    )
    joined = bins.crossJoin(F.broadcast(tot))
    conf = F.col("spq").cast("double") / (F.col("n") * CAL_SCALE)
    orate = F.col("n_pos").cast("double") / F.col("n")
    brate = F.col("npt").cast("double") / F.col("nt")
    terms = joined.agg(
        F.sum(F.floor(F.col("n") * (conf - orate) * (conf - orate)
                      * _BR_SCALE).cast("long")).cast("long").alias("rel_q"),
        F.sum(F.floor(F.col("n") * (orate - brate) * (orate - brate)
                      * _BR_SCALE).cast("long")).cast("long").alias("res_q"),
    )
    out = terms.crossJoin(F.broadcast(tot))
    brate2 = F.col("npt").cast("double") / F.col("nt")
    return out.select(
        F.col("nt").alias("n"),
        (F.round(F.col("sbq").cast("double") / F.col("nt") / _BR_SCALE, 6)
         + F.lit(0.0)).alias("brier"),
        (F.round(F.col("rel_q").cast("double") / F.col("nt") / _BR_SCALE, 6)
         + F.lit(0.0)).alias("reliability"),
        (F.round(F.col("res_q").cast("double") / F.col("nt") / _BR_SCALE, 6)
         + F.lit(0.0)).alias("resolution"),
        (F.round(brate2 * (F.lit(1.0) - brate2), 6) + F.lit(0.0))
        .alias("uncertainty"),
    )


# -- per-class precision / recall / F1 for the lang identifier ----------------
def _prf_oracle() -> str:
    from nonconsumptive_spark.queries.textstats import (
        _CASE_PRED, _HIT_EXPRS, _LANGS)

    g = ", ".join("hits_" + lg for lg in _LANGS)
    return f"""
    WITH pred AS (
      SELECT doc_id, lang, {_CASE_PRED} AS pred_lang
      FROM (
        SELECT doc_id, lang, greatest({g}) AS m, {g}
        FROM (
          SELECT doc_id, lang,
{_HIT_EXPRS}
          FROM (SELECT doc_id, lang, coalesce(text, '') AS text
                FROM documents) documents))),
    classes AS (SELECT DISTINCT lang AS cls FROM pred),
    per AS (
      SELECT c.cls,
             CAST(sum(CASE WHEN p.lang = c.cls AND p.pred_lang = c.cls
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN p.lang <> c.cls AND p.pred_lang = c.cls
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN p.lang = c.cls AND p.pred_lang <> c.cls
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM pred p CROSS JOIN classes c
      GROUP BY c.cls)
    SELECT cls AS lang, tp, fp, fn,
           CASE WHEN tp + fp > 0
                THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) + 0.0
                ELSE 0.0 END AS precision,
           CASE WHEN tp + fn > 0
                THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) + 0.0
                ELSE 0.0 END AS recall,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN round(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn), 6)
                     + 0.0
                ELSE 0.0 END AS f1
    FROM per
    """


@register("q_langid_prf", _prf_oracle())
def q_langid_prf(spark, sf_dir):
    """Per-class precision / recall / F1 of the stopword language
    identifier against the labeled lang column — the summary layer over
    the q_langid_vs_labels confusion matrix (tp/fp/fn are exact
    integers; each score is one mirrored ratio; F1 uses the 2tp/(2tp+
    fp+fn) integer form, never the harmonic-mean float chain).  Plan:
    zero-shuffle lang-id scan + a #classes-row broadcast spine + one
    class agg."""
    from nonconsumptive_spark.operators import textstats as ts

    docs = load(spark, sf_dir, "documents")
    # label carried through the lang-id projection — no doc-keyed join
    # back to the corpus for a column this scan already read (r8)
    pred = ts.lang_id(docs, extra_cols=("lang",))
    classes = pred.select(F.col("lang").alias("cls")).distinct()
    per = (
        pred.crossJoin(F.broadcast(classes))
        .groupBy("cls")
        .agg(
            F.sum(((F.col("lang") == F.col("cls"))
                   & (F.col("pred_lang") == F.col("cls"))).cast("long"))
            .cast("long").alias("tp"),
            F.sum(((F.col("lang") != F.col("cls"))
                   & (F.col("pred_lang") == F.col("cls"))).cast("long"))
            .cast("long").alias("fp"),
            F.sum(((F.col("lang") == F.col("cls"))
                   & (F.col("pred_lang") != F.col("cls"))).cast("long"))
            .cast("long").alias("fn"),
        )
    )
    def ratio(num, den):
        return F.when(den > 0,
                      F.round(num.cast("double") / den, 6) + F.lit(0.0)) \
            .otherwise(F.lit(0.0))
    return per.select(
        F.col("cls").alias("lang"), "tp", "fp", "fn",
        ratio(F.col("tp"), F.col("tp") + F.col("fp")).alias("precision"),
        ratio(F.col("tp"), F.col("tp") + F.col("fn")).alias("recall"),
        ratio(2 * F.col("tp"),
              2 * F.col("tp") + F.col("fp") + F.col("fn")).alias("f1"),
    )


# -- cumulative gains / lift chart by score decile ------------------------------
@register(
    "q_gain_chart",
    """
    WITH ranked AS (
      SELECT CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos,
             row_number() OVER (
               ORDER BY CAST(embedding[1] AS DOUBLE) DESC, vec_id ASC)
               AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM embeddings),
    bucketed AS (
      SELECT CAST(((rn - 1) * 10) // n AS BIGINT) AS decile,
             pos, n
      FROM ranked),
    per AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(pos) AS BIGINT) AS n_pos
      FROM bucketed GROUP BY decile),
    tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS pt,
                   CAST(sum(n_rows) AS BIGINT) AS nt FROM per)
    SELECT decile, n_rows, n_pos,
           CAST(sum(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
           round(CAST(sum(n_pos) OVER (ORDER BY decile) AS DOUBLE) / pt,
                 6) + 0.0 AS capture_rate,
           round((CAST(n_pos AS DOUBLE) / n_rows)
                 / (CAST(pt AS DOUBLE) / nt), 6) + 0.0 AS lift
    FROM per CROSS JOIN tot
    """,
)
def q_gain_chart(spark, sf_dir):
    """Cumulative-gains / lift table by score decile: rank everything by
    the model score (embedding[0], vec_id tiebreak), split into 10
    equal-count buckets with the explicit ((rn-1)*10) div n formula (no
    engine-specific ntile semantics), and report per-decile positive
    capture and lift — the triage-a-scored-corpus table.  The rank comes
    from ``assign_dense_ids`` (range partition + offsets, never a
    single-reducer sort); everything after the bucket agg is a 10-row
    frame."""
    from nonconsumptive_spark.plans.checkpoint import materialize_once
    from nonconsumptive_spark.sources.readers import assign_dense_ids

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        (-F.col("embedding").getItem(0).cast("double")).alias("neg_s"),
        (F.col("label") == 0).cast("long").alias("pos"),
    )
    ranked = assign_dense_ids(emb, ["neg_s", "vec_id"], id_name="rn")
    n = ranked.agg(F.count("*").cast("long").alias("n"))
    per = (
        ranked.crossJoin(F.broadcast(n))
        .select(F.expr("(rn * 10) div n").alias("decile"), "pos")
        .groupBy("decile")
        .agg(F.count("*").cast("long").alias("n_rows"),
             F.sum("pos").cast("long").alias("n_pos"))
    )
    per = materialize_once(per, "gain_deciles")
    tot = per.agg(F.sum("n_pos").cast("long").alias("pt"),
                  F.sum("n_rows").cast("long").alias("nt"))
    from pyspark.sql import Window
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("cum_pos", F.sum("n_pos").over(w).cast("long"))
        .select(
            "decile", "n_rows", "n_pos", "cum_pos",
            (F.round(F.col("cum_pos").cast("double") / F.col("pt"), 6)
             + F.lit(0.0)).alias("capture_rate"),
            (F.round((F.col("n_pos").cast("double") / F.col("n_rows"))
                     / (F.col("pt").cast("double") / F.col("nt")), 6)
             + F.lit(0.0)).alias("lift"),
        )
    )


# -- isotonic calibration (PAVA via the minimax formula) -----------------------
_ISO_SCALE = 10**9


def _iso_oracle() -> str:
    from nonconsumptive_spark.operators.evaluation import CAL_BINS, CAL_SCALE

    ph = ("((greatest(CAST(-1.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE), "
          "CAST(embedding[1] AS DOUBLE))) + CAST(1.0 AS DOUBLE)) "
          "/ CAST(2.0 AS DOUBLE))")
    return f"""
    WITH base AS (
      SELECT least(CAST(floor({ph} * {CAL_BINS}) AS BIGINT),
                   {CAL_BINS - 1}) AS bin,
             CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
      FROM embeddings),
    bins AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS n_pos
      FROM base GROUP BY bin),
    pre AS (
      SELECT bin, n, n_pos,
             CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
             CAST(sum(n_pos) OVER (ORDER BY bin) AS BIGINT) AS cp
      FROM bins),
    grid AS (
      SELECT a.bin AS i, b.bin AS j,
             CAST(floor(CAST(b.cp - (a.cp - a.n_pos) AS DOUBLE)
                        / (b.cn - (a.cn - a.n)) * {_ISO_SCALE}) AS BIGINT)
               AS qd
      FROM pre a JOIN pre b ON a.bin <= b.bin),
    inner_min AS (
      SELECT p.bin AS k, g.i, CAST(min(g.qd) AS BIGINT) AS mn
      FROM pre p JOIN grid g ON g.i <= p.bin AND g.j >= p.bin
      GROUP BY p.bin, g.i),
    fit AS (
      SELECT k AS bin, CAST(max(mn) AS BIGINT) AS iso_q
      FROM inner_min GROUP BY k)
    SELECT b.bin, b.n, b.n_pos,
           round(CAST(b.n_pos AS DOUBLE) / b.n, 6) + 0.0 AS raw_rate,
           round(CAST(f.iso_q AS DOUBLE) / {_ISO_SCALE}, 6) + 0.0
             AS iso_rate
    FROM bins b JOIN fit f USING (bin)
    """


@register("q_isotonic_bins", _iso_oracle())
def q_isotonic_bins(spark, sf_dir):
    """Isotonic (PAVA) calibration of the reliability-diagram bins via
    the exact minimax formula r_k = max_{i<=k} min_{j>=k} rate(i..j) —
    the monotone recalibration map a scorer would ship, computed without
    the sequential pool-adjacent-violators loop (the minimax form is
    order-free, so both engines replay it exactly).  Range rates come
    from prefix sums of exact BIGINT bin counts and quantize to 1e-9
    BIGINTs BEFORE min/max, so the fit is pure integer comparison.
    Plan: one 10-bin agg, a 10-row prefix window, a <=55-row (i,j) grid
    and a <=220-row (k,i,j) fan — everything after the first agg is
    bin-bounded, corpus-size independent."""
    from pyspark.sql import Window
    from nonconsumptive_spark.operators.evaluation import CAL_BINS
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    emb = load(spark, sf_dir, "embeddings")
    clipped = F.greatest(F.lit(-1.0), F.least(
        F.lit(1.0), F.col("embedding").getItem(0).cast("double")))
    ph = (clipped + F.lit(1.0)) / F.lit(2.0)
    bins = materialize_once(
        emb.select(
            F.least(F.floor(ph * CAL_BINS).cast("long"),
                    F.lit(CAL_BINS - 1)).alias("bin"),
            (F.col("label") == 0).cast("long").alias("pos"))
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("n"),
             F.sum("pos").cast("long").alias("n_pos")),
        "iso_bins",
    )
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    pre = bins.select(
        "bin", "n", "n_pos",
        F.sum("n").over(w).cast("long").alias("cn"),
        F.sum("n_pos").over(w).cast("long").alias("cp"),
    )
    a = pre.select(F.col("bin").alias("i"),
                   (F.col("cp") - F.col("n_pos")).alias("cp0"),
                   (F.col("cn") - F.col("n")).alias("cn0"))
    b = pre.select(F.col("bin").alias("j"), F.col("cp").alias("cp1"),
                   F.col("cn").alias("cn1"))
    grid = (
        a.crossJoin(b).filter(F.col("i") <= F.col("j"))
        .select("i", "j",
                F.floor((F.col("cp1") - F.col("cp0")).cast("double")
                        / (F.col("cn1") - F.col("cn0")) * _ISO_SCALE)
                .cast("long").alias("qd"))
    )
    spine = pre.select(F.col("bin").alias("k"))
    inner = (
        spine.crossJoin(grid)
        .filter((F.col("i") <= F.col("k")) & (F.col("j") >= F.col("k")))
        .groupBy("k", "i")
        .agg(F.min("qd").cast("long").alias("mn"))
    )
    fit = inner.groupBy("k").agg(F.max("mn").cast("long").alias("iso_q"))
    return (
        bins.join(fit, bins["bin"] == fit["k"])
        .select(
            "bin", "n", "n_pos",
            (F.round(F.col("n_pos").cast("double") / F.col("n"), 6)
             + F.lit(0.0)).alias("raw_rate"),
            (F.round(F.col("iso_q").cast("double") / _ISO_SCALE, 6)
             + F.lit(0.0)).alias("iso_rate"),
        )
    )


# -- exact average precision + 11-point interpolated AP ----------------------
def _ap_oracle() -> str:
    from nonconsumptive_spark.operators.evaluation import (
        AP_LEVELS, AP_SCALE, AUC_SCALE)

    return f"""
    WITH base AS (
      SELECT vec_id AS rid,
             CASE WHEN label = 0 THEN 1 ELSE 0 END AS y,
             CAST(floor(CAST(embedding[1] AS DOUBLE) * {AUC_SCALE} + 0.5)
                  AS BIGINT) AS sq
      FROM embeddings),
    pts AS (
      SELECT y, rn, cum_rel,
             CAST(floor({AP_SCALE}.0 * cum_rel / rn) AS BIGINT) AS prec_q
      FROM (
        SELECT y,
               CAST(row_number() OVER (ORDER BY sq DESC, rid ASC)
                    AS BIGINT) AS rn,
               CAST(sum(y) OVER (ORDER BY sq DESC, rid ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_rel
        FROM base) z),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS n_pos FROM pts),
    apq AS (SELECT CAST(sum(prec_q) AS BIGINT) AS ap_sum_q
            FROM pts WHERE y = 1),
    lv AS (SELECT unnest(range(0, {AP_LEVELS})) AS lvl),
    interp AS (
      SELECT CAST(sum(mx) AS BIGINT) AS interp_sum_q FROM (
        SELECT l.lvl, max(p.prec_q) AS mx
        FROM lv l JOIN pts p
          ON p.cum_rel * 10 >= l.lvl * (SELECT n_pos FROM tot)
        GROUP BY l.lvl) z)
    SELECT t.n, t.n_pos,
           CASE WHEN t.n_pos > 0 THEN
             round(a.ap_sum_q / ({AP_SCALE} * t.n_pos), 6) + 0.0
           END AS ap,
           CASE WHEN t.n_pos > 0 THEN
             round(i.interp_sum_q / CAST({AP_SCALE * AP_LEVELS} AS BIGINT),
                   6) + 0.0
           END AS ap11
    FROM tot t CROSS JOIN apq a CROSS JOIN interp i
    """


@register("q_avg_precision", _ap_oracle())
def q_avg_precision(spark, sf_dir):
    """Exact AP + 11-point interpolated AP of the first embedding
    coordinate against class-0 membership (operators/evaluation.
    average_precision) — the imbalance-robust ranking grade beside
    q_auc_eval's ROC AUC, sharing its score/label frame so the two
    metrics are directly comparable."""
    from nonconsumptive_spark.operators.evaluation import average_precision

    emb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("rid"),
        (F.col("label") == 0).cast("long").alias("y"),
        F.col("embedding").getItem(0).alias("score"),
    )
    return average_precision(emb, label_col="y", score_col="score",
                             id_col="rid")


# -- Expected Reciprocal Rank of the lexical ranker ---------------------------
def _err_oracle() -> str:
    from nonconsumptive_spark.operators import hybrid as hy
    from nonconsumptive_spark.queries.hybrid import _LEX_CTES, _SEM_CTES

    dens = ", ".join(f"({i + 1}, {d}::BIGINT)"
                     for i, d in enumerate(hy.err_denoms()))
    return f"""
    WITH {_LEX_CTES},
    {_SEM_CTES},
    rel AS (
      SELECT query_id, cand_id,
             CASE WHEN sem_rank <= {hy.NDCG_HI_CUT} THEN 3 ELSE 1 END AS num
      FROM semt),
    den(r, d) AS (VALUES {dens}),
    base AS (
      SELECT l.query_id, l.lex_rank,
             CAST(COALESCE(rl.num, 0) AS BIGINT) AS num
      FROM lext l LEFT JOIN rel rl
        ON rl.query_id = l.query_id AND rl.cand_id = l.cand_id
      WHERE l.lex_rank <= {hy.NDCG_K}),
    terms AS (
      SELECT b.query_id,
             CAST(floor({hy.ERR_SCALE}.0 * (b.num * COALESCE(
                 product(CAST({hy.ERR_DEN} - b.num AS DOUBLE)) OVER (
                   PARTITION BY b.query_id ORDER BY b.lex_rank
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 1.0)) / d.d) AS BIGINT) AS tq
      FROM base b JOIN den d ON d.r = b.lex_rank),
    perq AS (
      SELECT query_id, CAST(sum(tq) AS BIGINT) AS err_q
      FROM terms GROUP BY 1),
    nrel AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel FROM rel GROUP BY 1)
    SELECT n.query_id, n.n_rel,
           CAST(COALESCE(p.err_q, 0) AS BIGINT) AS err_q,
           round(COALESCE(p.err_q, 0) / {hy.ERR_SCALE}.0, 6) + 0.0 AS err
    FROM nrel n LEFT JOIN perq p USING (query_id)
    """


@register("q_err_eval", _err_oracle())
def q_err_eval(spark, sf_dir):
    """Expected Reciprocal Rank (cascade-model metric) of the lexical
    ranker against semantic pseudo-relevance (operators/hybrid.
    err_eval) — completes the IR-eval battery beside nDCG / MRR-MAP /
    RBP with the one metric that models a user STOPPING at a satisfying
    hit; the stop-probability products stay exact via dyadic integer
    numerators in a window ``product``."""
    from nonconsumptive_spark.operators.hybrid import err_eval
    from nonconsumptive_spark.queries.hybrid import _N_Q

    return err_eval(load(spark, sf_dir, "documents"),
                    load(spark, sf_dir, "embeddings"), n_queries=_N_Q)


# -- Qini uplift curve by targeting-score decile ------------------------------
@register(
    "q_qini_curve",
    """
    WITH pu AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treat,
             CAST(count(*) AS BIGINT) AS score,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv
      FROM events GROUP BY user_id),
    ranked AS (
      SELECT treat, conv,
             CAST(row_number() OVER (ORDER BY score DESC, user_id ASC)
                  AS BIGINT) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM pu),
    dec AS (
      SELECT CAST(floor(((rn - 1) * 10.0) / m) AS BIGINT) + 1 AS decile,
             CAST(sum(treat) AS BIGINT) AS n_t,
             CAST(sum(CASE WHEN treat = 1 THEN conv ELSE 0 END) AS BIGINT)
               AS conv_t,
             CAST(sum(1 - treat) AS BIGINT) AS n_c,
             CAST(sum(CASE WHEN treat = 0 THEN conv ELSE 0 END) AS BIGINT)
               AS conv_c
      FROM ranked GROUP BY 1),
    cum AS (
      SELECT decile,
             CAST(sum(n_t) OVER w AS BIGINT) AS n_t_cum,
             CAST(sum(conv_t) OVER w AS BIGINT) AS conv_t_cum,
             CAST(sum(n_c) OVER w AS BIGINT) AS n_c_cum,
             CAST(sum(conv_c) OVER w AS BIGINT) AS conv_c_cum
      FROM dec
      WINDOW w AS (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT decile, n_t_cum, conv_t_cum, n_c_cum, conv_c_cum,
           CASE WHEN n_c_cum > 0 THEN
             round(conv_t_cum
                   - CAST(conv_c_cum AS DOUBLE) * n_t_cum / n_c_cum, 6)
             + 0.0 END AS qini
    FROM cum
    """,
)
def q_qini_curve(spark, sf_dir):
    """Qini uplift curve: cumulative incremental conversions
    conv_t - conv_c * n_t/n_c by targeting-score decile (score =
    user activity, treat = odd user_id) — the standard read of WHO to
    target, completing the experiment battery beside q_cuped_abtest
    (average effect) and q_gain_chart (response ranking).  Deciles come
    from an integer rank formula (not engine ntile), cumulative counts
    are BIGINT window sums over the 10-row decile spine, and qini is
    one mirrored float chain.  Plan: one user agg, one global rank of
    the user frame (eval-sized), 10-row windows."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("score"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long").alias("conv"),
    ).withColumn(
        "treat",
        F.when(F.col("user_id") % 2 == 1, F.lit(1)).otherwise(F.lit(0)),
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = pu.select(
        "treat", "conv",
        F.row_number().over(Window.orderBy(F.desc("score"),
                                           F.asc("user_id")))
        .cast("long").alias("rn"),
        F.count("*").over(w_all).cast("long").alias("m"),
    )
    dec = ranked.groupBy(
        (F.floor(((F.col("rn") - 1) * F.lit(10.0)) / F.col("m"))
         .cast("long") + 1).alias("decile")
    ).agg(
        F.sum("treat").cast("long").alias("n_t"),
        F.sum(F.when(F.col("treat") == 1, F.col("conv")).otherwise(0))
        .cast("long").alias("conv_t"),
        F.sum(F.lit(1) - F.col("treat")).cast("long").alias("n_c"),
        F.sum(F.when(F.col("treat") == 0, F.col("conv")).otherwise(0))
        .cast("long").alias("conv_c"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow)
    cum = dec.select(
        "decile",
        F.sum("n_t").over(w).cast("long").alias("n_t_cum"),
        F.sum("conv_t").over(w).cast("long").alias("conv_t_cum"),
        F.sum("n_c").over(w).cast("long").alias("n_c_cum"),
        F.sum("conv_c").over(w).cast("long").alias("conv_c_cum"),
    )
    return cum.select(
        "decile", "n_t_cum", "conv_t_cum", "n_c_cum", "conv_c_cum",
        F.when(F.col("n_c_cum") > 0, F.round(
            F.col("conv_t_cum")
            - F.col("conv_c_cum").cast("double") * F.col("n_t_cum")
            / F.col("n_c_cum"), 6) + F.lit(0.0)).alias("qini"),
    )


# -- nearest-centroid classifier evaluation ----------------------------------
_NC_SCALE = 10**6


@register(
    "q_nearest_centroid_eval",
    f"""
    WITH dims AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
             unnest(embedding) AS x
      FROM embeddings),
    q AS MATERIALIZED (
      SELECT vec_id, label, dim,
             CAST(floor(CAST(x AS DOUBLE) * {_NC_SCALE} + 0.5) AS BIGINT)
               AS xq
      FROM dims),
    cent AS MATERIALIZED (
      SELECT label AS clabel, dim, CAST(sum(xq) AS BIGINT) AS sq,
             CAST(count(*) AS BIGINT) AS n
      FROM q GROUP BY 1, 2),
    dist AS (
      SELECT a.vec_id, a.label, c.clabel,
             CAST(sum(CAST(floor(
                 (a.xq - CAST(c.sq AS DOUBLE) / c.n)
                 * (a.xq - CAST(c.sq AS DOUBLE) / c.n)) AS BIGINT))
                  AS BIGINT) AS distq
      FROM q a JOIN cent c ON c.dim = a.dim
      GROUP BY 1, 2, 3),
    asg AS (
      SELECT vec_id, label, clabel,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY distq, clabel) AS rn
      FROM dist),
    ev AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN clabel = label THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_correct
      FROM asg WHERE rn = 1 GROUP BY label)
    SELECT label, n, n_correct,
           round(CAST(n_correct AS DOUBLE) / n, 6) + 0.0 AS acc
    FROM ev
    """,
)
def q_nearest_centroid_eval(spark, sf_dir):
    """Nearest-centroid (Rocchio) classifier accuracy per label over the
    embedding table — the 5-line supervised baseline every embedding
    space should beat chance on, and the quickest label-quality smoke
    test for a curated dataset.  Coordinates quantize to 1e6 BIGINTs so
    centroid sums are exact; per-dimension squared deviations floor to
    BIGINTs before the 64-dim sum, making the argmin assignment (ties
    broken by label) bit-stable.  Scale shape: one posexplode agg for
    centroids (#labels x dims rows, broadcast back), distance terms
    collapse in a map-side-combined (vec, label) agg, one bounded
    window per vector."""
    from pyspark.sql import Window

    from nonconsumptive_spark.plans.checkpoint import materialize_once

    emb = load(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", "label",
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "vec_id", "label", "dim",
        F.floor(F.col("x").cast("double") * _NC_SCALE + F.lit(0.5))
        .cast("long").alias("xq"),
    )
    q = materialize_once(q, "nc_q")  # feeds centroids AND distances
    cent = q.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.sum("xq").cast("long").alias("sq"),
        F.count("*").cast("long").alias("n"),
    )
    d = F.col("xq") - F.col("sq").cast("double") / F.col("n")
    dist = (
        q.join(F.broadcast(cent), "dim")
        .select("vec_id", "label", "clabel",
                F.floor(d * d).cast("long").alias("tq"))
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum("tq").cast("long").alias("distq"))
    )
    w = Window.partitionBy("vec_id").orderBy("distq", "clabel")
    asg = dist.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1)
    evl = asg.groupBy("label").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("clabel") == F.col("label"), 1).otherwise(0))
        .cast("long").alias("n_correct"),
    )
    return evl.select(
        "label", "n", "n_correct",
        (F.round(F.col("n_correct").cast("double") / F.col("n"), 6)
         + F.lit(0.0)).alias("acc"),
    )


# -- pinball (quantile) loss readout -----------------------------------------
_PB_TAU_NUM, _PB_TAU_DEN = 3, 4  # tau = 0.75


@register(
    "q_pinball_quantile",
    f"""
    WITH base AS (
      SELECT l_returnflag AS flag,
             CAST(floor(100.0 * l_extendedprice + 0.5) AS BIGINT) AS v
      FROM lineitem),
    ranked AS (
      SELECT flag, v,
             row_number() OVER (PARTITION BY flag ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY flag) AS n
      FROM base),
    qh AS (
      SELECT flag, CAST(max(n) AS BIGINT) AS n, CAST(max(v) AS BIGINT) AS q
      FROM ranked
      WHERE rn = ({_PB_TAU_NUM} * n + {_PB_TAU_DEN} - 1) // {_PB_TAU_DEN}
      GROUP BY flag),
    loss AS (
      SELECT b.flag,
             CAST(sum(CASE WHEN b.v >= q.q
                           THEN {_PB_TAU_NUM} * (b.v - q.q)
                           ELSE ({_PB_TAU_DEN} - {_PB_TAU_NUM})
                                * (q.q - b.v) END) AS BIGINT) AS loss_q
      FROM base b JOIN qh q ON q.flag = b.flag
      GROUP BY b.flag)
    SELECT q.flag, q.n, q.q AS q_hat_cents, l.loss_q,
           round(CAST(l.loss_q AS DOUBLE) / ({_PB_TAU_DEN}.0 * q.n), 6)
             + 0.0 AS mean_pinball_cents
    FROM qh q JOIN loss l ON l.flag = q.flag
    """,
)
def q_pinball_quantile(spark, sf_dir):
    """Per-return-flag exact tau=0.75 quantile (the ceil(tau*n) order
    statistic) and the mean pinball (quantile-regression check) loss at
    that quantile — the constant-predictor baseline any learned quantile
    regressor must beat, and the readout that verifies the empirical
    quantile MINIMIZES pinball loss (see the staging property test).
    Everything is exact: prices quantize to cents, the loss numerator is
    a BIGINT sum of tau-weighted integer gaps (x4 to stay integral), one
    float division at emit.  Plan: the order statistic is located on the
    per-flag VALUE HISTOGRAM (q = min v with cumcount >= ceil(tau*n)) —
    the windows run over (flag, distinct cent value) rows, bounded by
    the price domain, never corpus rows (the original row-linear rank
    window was the staged cohort's one ~7.9x 10x-stress outlier; this
    is the bounded-window rewrite) — plus two flag-keyed aggs.  No
    global sort, no collect."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.lit(100.0) * F.col("l_extendedprice") + F.lit(0.5))
        .cast("long").alias("v"),
    )
    hist = li.groupBy("flag", "v").agg(F.count("*").alias("c"))
    wv = (Window.partitionBy("flag").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wn = Window.partitionBy("flag")
    spine = hist.select(
        "flag", "v",
        F.sum("c").over(wv).alias("cum"),
        F.sum("c").over(wn).alias("n"),
    )
    # integer `div`, not double-/-then-cast: exact at any n (double
    # division silently mis-ranks once 3n+3 exceeds 2^53).
    k = F.expr(f"({_PB_TAU_NUM} * n + {_PB_TAU_DEN - 1}) "
               f"div {_PB_TAU_DEN}")
    qh = (spine.filter(F.col("cum") >= k)
          .groupBy("flag")
          .agg(F.max("n").cast("long").alias("n"),
               F.min("v").cast("long").alias("q")))
    loss = (
        li.join(F.broadcast(qh.select("flag", "q")), "flag")
        .groupBy("flag")
        .agg(F.sum(
            F.when(F.col("v") >= F.col("q"),
                   F.lit(_PB_TAU_NUM) * (F.col("v") - F.col("q")))
            .otherwise(F.lit(_PB_TAU_DEN - _PB_TAU_NUM)
                       * (F.col("q") - F.col("v")))
        ).cast("long").alias("loss_q"))
    )
    return qh.join(loss, "flag").select(
        "flag", "n",
        F.col("q").alias("q_hat_cents"),
        "loss_q",
        (F.round(F.col("loss_q").cast("double")
                 / (F.lit(float(_PB_TAU_DEN)) * F.col("n")), 6)
         + F.lit(0.0)).alias("mean_pinball_cents"),
    )
