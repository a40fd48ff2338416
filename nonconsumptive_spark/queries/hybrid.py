"""Hybrid-retrieval queries: RRF fusion and hard-negative mining.

Both replay the full pipeline in DuckDB (stop-cut shingle lexical ranking,
exact cosine ranking, integer-division RRF fusion), with every shared
constant interpolated from ``operators/hybrid.py`` so the two engines
cannot drift.
"""

from __future__ import annotations

from nonconsumptive_spark.operators import hybrid as hy
from nonconsumptive_spark.queries import _DUCK_TOKS_LOWER, load, register

_N_Q = 5  # first N doc/vec ids are the query set (tables are id-aligned)


# Shared CTE prefix: stop-cut bigram-shingle lexical top-N ranking (the
# candidate generator both queries reuse).  Shingle construction mirrors
# operators/dedup.shingle_array (space-joined word n-grams, distinct,
# empty for docs shorter than the gram width).
_LEX_CTES = f"""
    toks AS (SELECT doc_id, {_DUCK_TOKS_LOWER} AS t FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(t)), i -> t[i] || ' ' || t[i+1]))) AS gram
      FROM toks WHERE len(t) >= {hy.SHINGLE_W}),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    keep AS (
      SELECT gram FROM grams CROSS JOIN nd
      GROUP BY gram, n_docs
      HAVING count(*) * {hy.STOP_FRAC_DEN} <= n_docs),
    postings AS (SELECT g.doc_id, g.gram FROM grams g JOIN keep USING (gram)),
    lexm AS (
      SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
             CAST(count(*) AS BIGINT) AS overlap
      FROM postings q JOIN postings c USING (gram)
      WHERE q.doc_id < {_N_Q} AND c.doc_id <> q.doc_id
      GROUP BY 1, 2),
    lexr AS (
      SELECT query_id, cand_id, overlap,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY overlap DESC, cand_id ASC
             ) AS BIGINT) AS lex_rank
      FROM lexm),
    lext AS (SELECT * FROM lexr WHERE lex_rank <= {hy.LEX_TOP}),
    qv AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
      FROM embeddings WHERE vec_id < {_N_Q}),
    cv AS (
      SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings)
"""


# Shared semantic CTEs: exact cosine top-N ranking (rounded-sim + id
# tie-break, the knn_bruteforce convention).
_SEM_CTES = f"""
    sems AS (
      SELECT q.query_id, c.cand_id,
             round(list_dot_product(q.qvec, c.cvec) /
                   (sqrt(list_dot_product(q.qvec, q.qvec)) *
                    sqrt(list_dot_product(c.cvec, c.cvec))), 4) AS cs
      FROM qv q CROSS JOIN cv c WHERE c.cand_id <> q.query_id),
    semr AS (
      SELECT query_id, cand_id,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY cs DESC, cand_id ASC
             ) AS BIGINT) AS sem_rank
      FROM sems),
    semt AS (SELECT * FROM semr WHERE sem_rank <= {hy.SEM_TOP})
"""


# --------------------------------------------------------------------------
@register(
    "q_rrf_fusion",
    oracle=f"""
    WITH {_LEX_CTES},
    {_SEM_CTES},
    fused AS (
      SELECT COALESCE(l.query_id, s.query_id) AS query_id,
             COALESCE(l.cand_id, s.cand_id) AS cand_id,
             l.lex_rank, s.sem_rank,
             CAST(COALESCE({hy.RRF_SCALE} // ({hy.RRF_K} + l.lex_rank), 0)
                + COALESCE({hy.RRF_SCALE} // ({hy.RRF_K} + s.sem_rank), 0)
                AS BIGINT) AS rrf_score
      FROM lext l FULL OUTER JOIN semt s
        ON l.query_id = s.query_id AND l.cand_id = s.cand_id),
    ranked AS (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY rrf_score DESC, cand_id ASC
             ) AS BIGINT) AS fused_rank
      FROM fused)
    SELECT query_id, cand_id, lex_rank, sem_rank, rrf_score, fused_rank
    FROM ranked WHERE fused_rank <= {hy.FUSE_TOP}
    """,
    doc=f"Reciprocal-rank fusion (Cormack 2009, K={hy.RRF_K}) of a stop-cut "
        f"bigram-shingle lexical ranking and the exact cosine "
        f"kNN ranking for {_N_Q} query-by-example documents; fused score is "
        "an exact BIGINT sum of integer-division contributions.  Lexical "
        "fan-out bounded by the stop-shingle cut (prefix-filter insight); query side "
        "broadcast everywhere; per-query windows over candidate rows only.",
)
def q_rrf_fusion(spark, sf_dir):
    return hy.rrf_fuse(
        load(spark, sf_dir, "documents"),
        load(spark, sf_dir, "embeddings"),
        n_queries=_N_Q,
    )


# --------------------------------------------------------------------------
@register(
    "q_hard_negatives",
    oracle=f"""
    WITH {_LEX_CTES}
    SELECT l.query_id, l.cand_id, l.overlap, l.lex_rank,
           round(list_dot_product(q.qvec, c.cvec) /
                 (sqrt(list_dot_product(q.qvec, q.qvec)) *
                  sqrt(list_dot_product(c.cvec, c.cvec))), 4) AS cosine_sim
    FROM lext l
    JOIN qv q USING (query_id)
    JOIN cv c USING (cand_id)
    WHERE round(list_dot_product(q.qvec, c.cvec) /
                (sqrt(list_dot_product(q.qvec, q.qvec)) *
                 sqrt(list_dot_product(c.cvec, c.cvec))), 4) < {hy.NEG_COS_MAX}
    """,
    doc=f"Hard-negative mining for contrastive embedding training: lexical "
        f"top-{hy.LEX_TOP} candidates whose embedding cosine to the query "
        f"is < {hy.NEG_COS_MAX} (4-decimal rounded cut, kNN convention).  "
        "The ≤ n_queries×top_n lexical frame broadcasts onto the embedding "
        "scan; the corpus never shuffles.",
)
def q_hard_negatives(spark, sf_dir):
    return hy.hard_negatives(
        load(spark, sf_dir, "documents"),
        load(spark, sf_dir, "embeddings"),
        n_queries=_N_Q,
    )


# --------------------------------------------------------------------------
@register(
    "q_rbo_rankers",
    oracle=f"""
    WITH {_LEX_CTES},
    {_SEM_CTES},
    shared AS (
      SELECT l.query_id,
             CASE WHEN l.lex_rank > s.sem_rank THEN l.lex_rank
                  ELSE s.sem_rank END AS d
      FROM lext l JOIN semt s
        ON l.query_id = s.query_id AND l.cand_id = s.cand_id),
    counts AS (
      SELECT query_id, d, CAST(count(*) AS BIGINT) AS cnt
      FROM shared GROUP BY query_id, d),
    spine AS (
      SELECT DISTINCT query_id, unnest(range(1, {hy.LEX_TOP} + 1)) AS d
      FROM semt),
    xs AS (
      SELECT sp.query_id, sp.d,
             CAST(sum(COALESCE(c.cnt, 0)) OVER (
               PARTITION BY sp.query_id ORDER BY sp.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS x
      FROM spine sp LEFT JOIN counts c
        ON c.query_id = sp.query_id AND c.d = sp.d),
    terms AS (SELECT query_id, x, {hy.RBO_TERM} AS tq FROM xs)
    SELECT query_id, CAST(max(x) AS BIGINT) AS n_shared,
           CAST(sum(tq) AS BIGINT) AS rbo_q,
           {hy.RBO_OUT.replace('rbo_q', 'CAST(sum(tq) AS BIGINT)')} AS rbo
    FROM terms GROUP BY query_id
    """,
    doc=f"Truncated rank-biased overlap (Webber 2010, p={hy.RBO_P}, "
        f"depth {hy.LEX_TOP}) between the lexical and semantic rankings "
        "per query — the ranker-agreement diagnostic for hybrid "
        "retrieval.  Prefix overlaps are exact integer cum-sums over a "
        "per-query depth spine; each depth term is one mirrored "
        "expression floored to integer units before the sum.",
)
def q_rbo_rankers(spark, sf_dir):
    return hy.rbo_rankers(
        load(spark, sf_dir, "documents"),
        load(spark, sf_dir, "embeddings"),
        n_queries=_N_Q,
    )
