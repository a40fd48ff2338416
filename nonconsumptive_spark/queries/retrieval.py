"""Retrieval queries over the corpus: BM25, query-likelihood and RM3
ranking, and phrase, proximity and blocklist matching in two physical
forms (in-row scans and the positional inverted index), which share one
oracle per contract."""

from __future__ import annotations

from nonconsumptive_spark.operators import retrieval as rt
from nonconsumptive_spark.queries import (
    _DUCK_TOKS, _DUCK_TOKS_LOWER, load, register)

_BM25_TERMS = ["spark", "query", "dup"]
_BM25_K = 10

_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in sorted(_BM25_TERMS)) + ")"


# --------------------------------------------------------------------------
@register(
    "q_bm25_topk",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_DUCK_TOKS_LOWER} AS t FROM documents),
    lens AS (SELECT doc_id, len(t) AS dl FROM base),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
    tf AS (
      SELECT doc_id, dl, token, count(*) AS tf
      FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS token FROM base)
      WHERE token IN {_TERMS_SQL}
      GROUP BY doc_id, dl, token),
    dfs AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token),
    scored AS (
      SELECT f.doc_id,
             CAST(count(*) AS BIGINT) AS n_terms_matched,
             sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * f.tf * ({rt.K1} + 1)
                 / (f.tf + {rt.K1} * (1 - {rt.B} + {rt.B} * f.dl / s.avgdl))) AS raw
      FROM tf f JOIN dfs d USING (token) CROSS JOIN stats s
      GROUP BY f.doc_id)
    SELECT doc_id, n_terms_matched, round(raw, 4) + 0.0 AS score
    FROM scored
    ORDER BY round(raw, 6) DESC, doc_id ASC
    LIMIT {_BM25_K}
    """,
    doc=f"BM25 top-{_BM25_K} retrieval for query {_BM25_TERMS} (Lucene +1 "
        "idf variant, k1/b shared constants).  One let-bound tokenize pass "
        "yields dl and the query-term sub-array per row; only matching "
        "tokens explode, df/stats are broadcast 1-row/short aggs, and the "
        "cut is TakeOrderedAndProject on a 6-decimal score key with id "
        "tiebreak.",
)
def q_bm25_topk(spark, sf_dir):
    return rt.bm25_topk(load(spark, sf_dir, "documents"),
                        _BM25_TERMS, k=_BM25_K)


_PHRASE = ["table", "table"]
_PHRASE_PRED = " AND ".join(
    f"t[p+{i}] = '{w}'" if i else f"t[p] = '{w}'"
    for i, w in enumerate(_PHRASE)
)
# One oracle for both physical forms of the phrase query.
_DUCK_PHRASE = f"""
    WITH base AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
    hits AS (
      SELECT doc_id,
             list_filter(range(1, greatest(len(t) - {len(_PHRASE) - 1}, 0) + 1),
                         p -> {_PHRASE_PRED}) AS a
      FROM base)
    SELECT doc_id, CAST(len(a) AS BIGINT) AS n_hits,
           CAST(a[1] AS INTEGER) AS first_pos
    FROM hits WHERE len(a) > 0
    """


# --------------------------------------------------------------------------
@register(
    "q_phrase_search",
    oracle=_DUCK_PHRASE,
    doc=f"Exact adjacent-token phrase query {_PHRASE!r}: docs containing "
        "the phrase with occurrence count and first 1-based position.  "
        "In-row anchor scan — the phrase lives inside one document, so "
        "the plan is a ZERO-shuffle narrow map (let-bound single "
        "tokenize, candidate anchors pre-filtered on the first term); "
        "the pos-join inverted-index alternative would shuffle every "
        "matching posting.",
)
def q_phrase_search(spark, sf_dir):
    return rt.phrase_search(load(spark, sf_dir, "documents"), _PHRASE)


@register(
    "q_phrase_search_indexed",
    oracle=_DUCK_PHRASE,
    doc=f"The same phrase query {_PHRASE!r} answered from the MATERIALIZED "
        "positional inverted index (term, doc, pos) — the scale path for "
        "index-once / query-many corpora: postings of each phrase term "
        "propose anchors (pos - slot) via a k-row broadcast slot join, "
        "and an anchor is a hit when all k slots voted.  Oracle is "
        "identical to q_phrase_search: both physical forms must agree "
        "exactly.",
)
def q_phrase_search_indexed(spark, sf_dir):
    idx = rt.build_positional_index(load(spark, sf_dir, "documents"))
    return rt.phrase_search_indexed(idx, _PHRASE)


_SPAN_TERMS = ["spark", "join", "filter"]
_SPAN_K = len(_SPAN_TERMS)
_SPAN_MS = "flatten([" + ", ".join(
    f"list_transform(list_filter(range(1, len(t) + 1), p -> t[p] = '{w}'),"
    f" p -> {{'pos': p, 'slot': {i}}})"
    for i, w in enumerate(_SPAN_TERMS)
) + "])"
# One oracle for the in-row sweep and the positional-index path.
_DUCK_MIN_SPAN = f"""
    WITH base AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
    mm AS (SELECT doc_id, unnest({_SPAN_MS}) AS u FROM base),
    m AS (SELECT doc_id, u.pos AS pos, u.slot AS slot FROM mm),
    lasts AS (
      SELECT e.doc_id, e.pos AS epos, x.slot, max(x.pos) AS last
      FROM m e JOIN m x ON x.doc_id = e.doc_id AND x.pos <= e.pos
      GROUP BY 1, 2, 3),
    spans AS (
      SELECT doc_id, epos, CAST(epos - min(last) + 1 AS INTEGER) AS span
      FROM lasts GROUP BY doc_id, epos HAVING count(*) = {_SPAN_K}),
    agg AS (SELECT doc_id, min(span) AS span FROM spans GROUP BY doc_id),
    nm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches
           FROM m GROUP BY doc_id)
    SELECT a.doc_id, a.span, nm.n_matches FROM agg a JOIN nm USING (doc_id)
    """


@register(
    "q_min_span_proximity",
    oracle=_DUCK_MIN_SPAN,
    doc=f"Minimal window span containing ALL of {_SPAN_TERMS} per document "
        "— the proximity-ranking primitive (span == k means adjacent in "
        "some order).  Spark runs the classic one-pass sweep as an in-row "
        "aggregate fold (zero shuffle, O(len) per doc, k-slot accumulator "
        "unrolled at plan time); the oracle is the quadratic last-"
        "position-per-slot reformulation of the same sweep, exact at "
        "oracle scale.",
)
def q_min_span_proximity(spark, sf_dir):
    return rt.min_span_proximity(load(spark, sf_dir, "documents"),
                                 _SPAN_TERMS)


# -- multi-phrase blocklist over the positional index ----------------------
_BL = [["table", "table"], ["slow", "scan"], ["merge"]]


def _bl_cte(pid: int, phrase: list[str]) -> str:
    pred = " AND ".join(
        f"t[p+{i}] = '{w}'" if i else f"t[p] = '{w}'"
        for i, w in enumerate(phrase)
    )
    return f"""
    SELECT doc_id, {pid} AS phrase_id, CAST(len(a) AS BIGINT) AS n_hits,
           CAST(a[1] AS INTEGER) AS first_pos
    FROM (
      SELECT doc_id,
             list_filter(range(1, greatest(len(t) - {len(phrase) - 1}, 0) + 1),
                         p -> {pred}) AS a
      FROM base)
    WHERE len(a) > 0"""


@register(
    "q_blocklist_match",
    f"""
    WITH base AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents)
    {" UNION ALL ".join(_bl_cte(i, p) for i, p in enumerate(_BL))}
    """,
    doc="Multi-phrase decontamination matches over the "
        "positional index (see operators/retrieval.blocklist_match): only "
        "blocklist-term postings move, anchor-vote equi-joins per phrase.",
)
def q_blocklist_match(spark, sf_dir):
    from nonconsumptive_spark.operators.retrieval import (
        blocklist_match,
        build_positional_index,
    )

    idx = build_positional_index(load(spark, sf_dir, "documents"))
    return blocklist_match(idx, _BL)


# -- postings delta-varint storage accounting -------------------------------
@register(
    "q_postings_size_stats",
    f"""
    WITH base AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
    post AS (
      SELECT doc_id, t[p] AS term, p AS pos
      FROM base, unnest(range(1, len(t) + 1)) AS r(p)),
    per_doc AS (
      SELECT term, doc_id, list_sort(list(CAST(pos AS BIGINT))) AS ps
      FROM post GROUP BY term, doc_id),
    folded AS (
      SELECT term, len(ps) AS n,
             (SELECT sum((length(bin(d)) - 1) // 7 + 1)
              FROM unnest(list_transform(
                     range(1, len(ps) + 1),
                     i -> ps[i] - CASE WHEN i = 1 THEN 0
                                       ELSE ps[i - 1] END)) AS u(d)) AS vb
      FROM per_doc)
    SELECT term, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS n_postings,
           CAST(sum(vb) AS BIGINT) AS varint_bytes,
           CAST(sum(n) * 4 AS BIGINT) AS fixed_bytes,
           round(CAST(sum(vb) AS DOUBLE) / (sum(n) * 4.0), 4) + 0.0 AS ratio
    FROM folded GROUP BY term
    """,
    doc="Delta-varint postings storage accounting per "
        "term (operators/retrieval.postings_size_stats): exact byte sizes "
        "from integer gap folds, one term-keyed agg.",
)
def q_postings_size_stats(spark, sf_dir):
    from nonconsumptive_spark.operators.retrieval import (
        build_positional_index,
        postings_size_stats,
    )

    return postings_size_stats(
        build_positional_index(load(spark, sf_dir, "documents")))


# -- indexed min-span: the SAME oracle as q_min_span_proximity -------------
@register(
    "q_min_span_indexed",
    _DUCK_MIN_SPAN,
    doc="Minimal multi-term span via the positional "
        "index — same result as q_min_span_proximity but reading only the "
        "query terms' postings (the production path).",
)
def q_min_span_indexed(spark, sf_dir):
    from nonconsumptive_spark.operators.retrieval import (
        build_positional_index,
        min_span_proximity_indexed,
    )

    idx = build_positional_index(load(spark, sf_dir, "documents"))
    return min_span_proximity_indexed(idx, _SPAN_TERMS)


# -- Dirichlet query-likelihood ranking (the other classic sparse ranker) --
_QL_TERMS = ["spark", "query", "dup"]
_QL_K, _QL_MU = 10, 100.0
_QL_IN = "(" + ", ".join(f"'{t}'" for t in sorted(_QL_TERMS)) + ")"


@register(
    "q_query_likelihood",
    f"""
    WITH base AS (SELECT doc_id, {_DUCK_TOKS_LOWER} AS t FROM documents),
    lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM base),
    cc AS (SELECT CAST(sum(dl) AS BIGINT) AS cc FROM lens),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(t) AS token FROM base)
      WHERE token IN {_QL_IN}
      GROUP BY 1, 2),
    cfq AS (
      SELECT token, cf, cc,
             CAST(floor(1000000000.0 * ln({_QL_MU} * cf / cc)) AS BIGINT)
               AS bg_q
      FROM (SELECT token, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1)
      CROSS JOIN cc),
    konst AS (SELECT CAST(sum(bg_q) AS BIGINT) AS k_q,
                     CAST(count(*) AS BIGINT) AS nq FROM cfq),
    per_doc AS (
      SELECT f.doc_id,
             CAST(sum(CAST(floor(1000000000.0
                    * ln(f.tf + {_QL_MU} * c.cf / c.cc)) AS BIGINT)
                  - c.bg_q) AS BIGINT) AS dq,
             CAST(count(*) AS BIGINT) AS n_terms_matched
      FROM tf f JOIN cfq c USING (token) GROUP BY f.doc_id),
    scored AS (
      SELECT l.doc_id,
             CAST(COALESCE(p.n_terms_matched, 0) AS BIGINT)
               AS n_terms_matched,
             k.k_q + COALESCE(p.dq, 0)
               - k.nq * CAST(floor(1000000000.0 * ln(l.dl + {_QL_MU}))
                             AS BIGINT) AS score_q
      FROM lens l LEFT JOIN per_doc p USING (doc_id) CROSS JOIN konst k)
    SELECT doc_id, n_terms_matched,
           round(score_q / 1000000000.0, 4) + 0.0 AS score
    FROM scored ORDER BY score_q DESC, doc_id ASC LIMIT {_QL_K}
    """,
    doc="Dirichlet-smoothed query-likelihood ranking "
        "(operators/retrieval.py): only query-term postings shuffle; "
        "corpus stats attach as 1-row broadcasts.",
)
def q_query_likelihood(spark, sf_dir):
    from nonconsumptive_spark.operators.retrieval import query_likelihood_topk

    return query_likelihood_topk(load(spark, sf_dir, "documents"),
                                 _QL_TERMS, k=_QL_K, mu=_QL_MU)


# -- RM3 pseudo-relevance-feedback query expansion ---------------------------
_RM3_K = 10
_RM3_M = 15


def _rm3_oracle() -> str:
    from nonconsumptive_spark.operators import retrieval as rt

    return f"""
    WITH base AS (
      SELECT doc_id, {_DUCK_TOKS_LOWER} AS t FROM documents),
    lens AS (SELECT doc_id, len(t) AS dl FROM base),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
    qtf AS (
      SELECT doc_id, dl, token, count(*) AS tf
      FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS token FROM base)
      WHERE token IN {_TERMS_SQL}
      GROUP BY doc_id, dl, token),
    dfs AS (SELECT token, count(DISTINCT doc_id) AS df FROM qtf GROUP BY token),
    top AS (
      SELECT doc_id, round(raw, 4) + 0.0 AS score
      FROM (
        SELECT f.doc_id,
               sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * f.tf * ({rt.K1} + 1)
                   / (f.tf + {rt.K1} * (1 - {rt.B} + {rt.B} * f.dl / s.avgdl))) AS raw
        FROM qtf f JOIN dfs d USING (token) CROSS JOIN stats s
        GROUP BY f.doc_id)
      ORDER BY round(raw, 6) DESC, doc_id ASC
      LIMIT {_RM3_K}),
    rel AS (
      SELECT b.doc_id, p.score, len(b.t) AS dl, unnest(b.t) AS term
      FROM base b JOIN top p USING (doc_id)),
    tf AS (
      SELECT doc_id, term, dl, score, CAST(count(*) AS BIGINT) AS tf
      FROM rel GROUP BY doc_id, term, dl, score),
    per_term AS (
      SELECT term,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(sum(CAST(floor(CAST(tf AS DOUBLE) / dl * score
                                 * {rt.RM3_SCALE}) AS BIGINT)) AS BIGINT) AS w
      FROM tf WHERE dl > 0
      GROUP BY term
      HAVING term NOT IN {_TERMS_SQL}),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM per_term)
    SELECT term, n_docs,
           round(CAST(w AS DOUBLE) / wt, 6) + 0.0 AS rm3_weight
    FROM per_term CROSS JOIN tot
    ORDER BY w DESC, term ASC
    LIMIT {_RM3_M}
    """


@register("q_rm3_expansion", _rm3_oracle())
def q_rm3_expansion(spark, sf_dir):
    """RM3 pseudo-relevance-feedback expansion terms for the shared BM25
    query (operators/retrieval.rm3_expansion): the relevance model over
    the deterministic BM25 top-k, contributions integer-quantized before
    every cross-row sum, normalized by a 1-row total attach."""
    from nonconsumptive_spark.operators.retrieval import rm3_expansion
    from nonconsumptive_spark.queries.retrieval import _BM25_TERMS

    return rm3_expansion(load(spark, sf_dir, "documents"), _BM25_TERMS,
                         k=_RM3_K, m=_RM3_M)


# -- Jelinek-Mercer query likelihood ----------------------------------------
_JM_TERMS = ["table", "merge", "window"]
_JM_K = 10


def _jm_oracle() -> str:
    from nonconsumptive_spark.operators.retrieval import JM_LAMBDA as lam

    toks = ("list_filter(regexp_split_to_array(lower(text), '[^\\pL]+'),"
            " x -> x <> '')")
    terms_in = "(" + ", ".join(f"'{t}'" for t in sorted(_JM_TERMS)) + ")"
    return f"""
    WITH base AS (SELECT doc_id, {toks} AS t FROM documents),
    lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM base),
    cc AS (SELECT CAST(sum(dl) AS BIGINT) AS cc FROM lens),
    tf AS (
      SELECT z.doc_id, l.dl, z.token, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(t) AS token FROM base) z
      JOIN lens l ON l.doc_id = z.doc_id
      WHERE z.token IN {terms_in}
      GROUP BY 1, 2, 3),
    cfq AS (
      SELECT token, cf, cc,
             CAST(floor(1000000000.0 * ln({lam} * cf / cc)) AS BIGINT)
               AS bg_q
      FROM (SELECT token, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1)
      CROSS JOIN cc),
    konst AS (SELECT CAST(sum(bg_q) AS BIGINT) AS k_q FROM cfq),
    per_doc AS (
      SELECT f.doc_id,
             CAST(sum(CAST(floor(1000000000.0
                    * ln({1.0 - lam} * f.tf / f.dl + {lam} * c.cf / c.cc))
                  AS BIGINT) - c.bg_q) AS BIGINT) AS dq,
             CAST(count(*) AS BIGINT) AS n_terms_matched
      FROM tf f JOIN cfq c USING (token) GROUP BY f.doc_id),
    scored AS (
      SELECT l.doc_id,
             CAST(COALESCE(p.n_terms_matched, 0) AS BIGINT)
               AS n_terms_matched,
             k.k_q + COALESCE(p.dq, 0) AS score_q
      FROM lens l LEFT JOIN per_doc p USING (doc_id) CROSS JOIN konst k)
    SELECT doc_id, n_terms_matched,
           round(score_q / 1000000000.0, 4) + 0.0 AS score
    FROM scored ORDER BY score_q DESC, doc_id ASC LIMIT {_JM_K}
    """


@register("q_lm_jm_topk", _jm_oracle())
def q_lm_jm_topk(spark, sf_dir):
    """Jelinek-Mercer query-likelihood top-k (operators/retrieval.
    query_likelihood_jm_topk) — completes the classic sparse-ranker
    trio beside BM25 and Dirichlet QL; fixed-mixture smoothing, no
    per-doc length penalty, same quantized-ln exactness and
    TakeOrderedAndProject cut."""
    from nonconsumptive_spark.operators.retrieval import (
        query_likelihood_jm_topk)

    return query_likelihood_jm_topk(load(spark, sf_dir, "documents"),
                                    _JM_TERMS, k=_JM_K)
