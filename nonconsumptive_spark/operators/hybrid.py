"""Hybrid retrieval: lexical + semantic rankers fused per query.

The retrieval surface a training-data pipeline needs beyond single-signal
ranking (``operators/retrieval.py`` BM25, ``operators/similarity.py``
cosine kNN): query-by-example search that combines BOTH signals, and the
mirror-image mining op — documents that look lexically relevant but are
semantically far, i.e. the *hard negatives* used to train embedding
models (DPR / contrastive fine-tuning practice).

Reference anchor: the reference stops at per-document token counts and
SRP embedding bitsets (nonconsumptive/corpus.py:186-253,
examples/Ngrams.ipynb); it has no ranker composition.  Both operators
here are new-capability extensions in the SURVEY §2 "LLM pipeline" class.

Design — Reciprocal Rank Fusion (Cormack et al., SIGIR 2009):

    rrf(d) = Σ_rankers 1 / (K + rank_r(d)),  K = 60

computed in integer arithmetic: each ranker contributes
``RRF_SCALE div (K + rank)`` (BIGINT), so fused scores are exact integer
sums — no float ordering anywhere (the repo-standard quantization
playbook; see PLANS.md).

Scale shape (the 100 TB story):
  * Lexical candidates come from a *shingle* (word-bigram) equi-join with
    a stop-shingle cut: shingles present in more than 1/``STOP_FRAC_DEN``
    of documents are dropped before the join (the stop-word/prefix-filter
    insight — near-universal grams carry no discriminative signal and
    would fan out to the whole corpus).  The cut is corpus-proportional
    (``df·STOP_FRAC_DEN ≤ n_docs``, a pure integer predicate), so it
    scales with the data rather than hard-coding an absolute df.
  * The query side is ≤ ``n_queries`` rows — broadcast into every join;
    the corpus-sized frames never shuffle on anything wider than a gram
    or an id.
  * Per-query rankings are windows PARTITIONED BY query_id over candidate
    rows only (bounded by the df cut × query's grams, not the corpus).
  * Fusion joins two ≤ n_queries×top_n frames — driver-trivial at any
    corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nonconsumptive_spark.functions.text import tokenize
from nonconsumptive_spark.operators.dedup import shingle_array
from nonconsumptive_spark.operators.similarity import cosine, knn_bruteforce
from nonconsumptive_spark.plans.checkpoint import materialize_once
from nonconsumptive_spark.plans.ranker_cache import shared_frame

RRF_K = 60
RRF_SCALE = 10**12   # integer contribution = RRF_SCALE div (RRF_K + rank)
SHINGLE_W = 2        # word-bigram shingles for the lexical side
STOP_FRAC_DEN = 10   # drop shingles with df * STOP_FRAC_DEN > n_docs
LEX_TOP = 20
SEM_TOP = 20
FUSE_TOP = 10
NEG_COS_MAX = 0.30  # hard negative: lexically top-ranked but cosine below


def _shingle_postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, gram) over DISTINCT per-doc word-bigram shingles, keeping
    only grams below the stop-shingle document-frequency cut
    (df·STOP_FRAC_DEN ≤ n_docs).  One tokenize scan; the df table is
    gram-vocabulary-bounded and the filter join shuffles short
    (gram, id) pairs only."""
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            shingle_array(tokenize(F.lower(F.col(text_col))), SHINGLE_W)
        ).alias("gram"),
    )
    grams = materialize_once(grams, "hybrid_grams")
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    # Stop-cut as a broadcast ANTI-join of the (small) stop-gram set
    # (r9; ADVICE r8): the r8 count-window form shuffled the ENTIRE
    # grams frame hash-partitioned by gram and buffered each gram's rows
    # in one window partition — and the hottest grams are exactly the
    # stop shingles being filtered, a guaranteed single-task hotspot at
    # corpus scale.  df here feeds ONLY this filter (never a per-row
    # value), so: one map-side-combinable groupBy over the checkpoint
    # (shuffles vocab-bounded partial counts, hash-agg absorbs hot grams
    # in the map phase — guide §2.3/§2.5), keep the few grams ABOVE the
    # cut, broadcast them, anti-join.  The corpus-sized grams frame now
    # never shuffles at all.  count(*) per gram IS document frequency
    # because the exploded shingles are per-doc DISTINCT.
    stop = (
        grams.groupBy("gram").agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * STOP_FRAC_DEN > F.col("n_docs"))
        .select("gram")
    )
    return grams.join(F.broadcast(stop), "gram", "left_anti") \
        .select("doc_id", "gram")


def lexical_topn(docs: DataFrame, n_queries: int, top_n: int = LEX_TOP,
                 id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(query_id, cand_id, overlap, lex_rank): per query document (the
    first ``n_queries`` ids), candidates ranked by the number of shared
    distinct word-bigram shingles below the stop cut, ties broken on
    cand_id.

    The 7 hybrid-eval registry queries all rank with the same parameters,
    so the ≤ n_queries×top_n result frame is built at most once per
    (session, corpus, params) (policy: plans/ranker_cache.py)."""
    def build() -> DataFrame:
        postings = materialize_once(
            _shingle_postings(docs, id_col, text_col), "hybrid_postings"
        )
        q = postings.filter(F.col("doc_id") < n_queries).select(
            F.col("doc_id").alias("query_id"), "gram"
        )
        matches = (
            postings.join(F.broadcast(q), "gram")
            .filter(F.col("doc_id") != F.col("query_id"))
            .groupBy("query_id", F.col("doc_id").alias("cand_id"))
            .agg(F.count("*").cast("long").alias("overlap"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("overlap"), F.asc("cand_id")
        )
        return (
            matches.withColumn("lex_rank", F.row_number().over(w).cast("long"))
            .filter(F.col("lex_rank") <= top_n)
        )

    return shared_frame(
        "hybrid_lex", (n_queries, top_n, id_col, text_col), (docs,), build
    )


def semantic_topk(emb: DataFrame, n_queries: int, k: int) -> DataFrame:
    """(query_id, neighbor_id, cosine_sim, rank): exact cosine kNN of the
    first ``n_queries`` vectors against the corpus — the semantic ranker
    every hybrid-eval consumer judges against, built at most once per
    (session, corpus, params) via the ranker cache (the brute-force
    corpus scoring is the expensive part; the output is ≤ n_queries×k
    rows)."""
    def build() -> DataFrame:
        return knn_bruteforce(
            emb, emb.filter(F.col("vec_id") < n_queries), k=k
        )

    return shared_frame("hybrid_sem", (n_queries, k), (emb,), build)


def rrf_fuse(docs: DataFrame, emb: DataFrame, n_queries: int,
             lex_top: int = LEX_TOP, sem_top: int = SEM_TOP,
             fuse_top: int = FUSE_TOP) -> DataFrame:
    """(query_id, cand_id, lex_rank, sem_rank, rrf_score, fused_rank):
    reciprocal-rank fusion of the stop-cut shingle lexical ranking and the
    exact cosine kNN ranking, for the first ``n_queries`` aligned
    doc/vec ids.  A candidate present in only one ranking contributes
    that ranking's term alone (the other rank is NULL).  ``rrf_score``
    is the exact BIGINT Σ RRF_SCALE div (K + rank); the final per-query
    cut orders by (score desc, cand_id)."""
    lex = lexical_topn(docs, n_queries, lex_top)
    sem = semantic_topk(emb, n_queries, sem_top).select(
        "query_id",
        F.col("neighbor_id").alias("cand_id"),
        F.col("rank").alias("sem_rank"),
    )
    fused = (
        lex.select("query_id", "cand_id", "lex_rank")
        .join(sem, ["query_id", "cand_id"], "full_outer")
        .select(
            "query_id",
            "cand_id",
            "lex_rank",
            "sem_rank",
            (
                F.coalesce(
                    F.expr(f"{RRF_SCALE} div ({RRF_K} + lex_rank)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"{RRF_SCALE} div ({RRF_K} + sem_rank)"), F.lit(0)
                )
            ).cast("long").alias("rrf_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("cand_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("fused_rank") <= fuse_top)
    )


RBO_P = 0.9
RBO_SCALE = 10**12
# columns in scope: x (BIGINT prefix-overlap at depth d), d (INT depth)
RBO_TERM = (
    f"CAST(floor(CAST(x AS DOUBLE) * power({RBO_P}, d - 1)"
    f" / CAST(d AS DOUBLE) * {float(RBO_SCALE)}) AS BIGINT)"
)
# 1-p is computed INSIDE the mirrored string: the Python literal 1-0.9
# is 0.09999999999999998 and must not be interpolated pre-evaluated.
RBO_OUT = (
    f"round((1.0 - {RBO_P}) * CAST(rbo_q AS DOUBLE)"
    f" / {float(RBO_SCALE)}, 6) + 0.0"
)


def rbo_rankers(docs: DataFrame, emb: DataFrame, n_queries: int,
                depth: int = LEX_TOP) -> DataFrame:
    """(query_id, n_shared, rbo_q, rbo): truncated rank-biased overlap
    (Webber et al., TOIS 2010; p = RBO_P, no residual — the RBO_min lower
    bound at ``depth``) between the lexical and semantic top-``depth``
    rankings of each query.  The ranker-agreement diagnostic for hybrid
    retrieval: rbo → 1 means the signals are redundant, rbo → 0 means
    fusion is doing real work.

    Exactness: prefix-overlap sizes X_d are exact integers from a cum-sum
    over the ≤``depth``-row per-query spine; each depth's term
    X_d·p^(d-1)/d is ONE mirrored expression floored to integer units
    before the per-query sum.  Every window here runs over ≤``depth``
    rows per query — never corpus-sized."""
    lex = lexical_topn(docs, n_queries, depth).select(
        "query_id", "cand_id", F.col("lex_rank").alias("maxr_l")
    )
    # sem feeds BOTH the shared-prefix join and the depth spine below;
    # the ranker-cache frame is already materialized, so the narrow
    # projection re-refs a checkpoint (no double corpus scoring).
    sem = semantic_topk(emb, n_queries, depth).select(
        "query_id",
        F.col("neighbor_id").alias("cand_id"),
        F.col("rank").alias("maxr_s"),
    )
    shared = lex.join(sem, ["query_id", "cand_id"]).select(
        "query_id",
        F.greatest("maxr_l", "maxr_s").alias("d"),
    )
    counts = shared.groupBy("query_id", "d").agg(
        F.count("*").cast("long").alias("cnt")
    )
    spine = (
        sem.select("query_id").distinct()
        .select("query_id", F.explode(F.sequence(F.lit(1), F.lit(depth))).alias("d"))
    )
    w = (
        Window.partitionBy("query_id").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    xs = (
        spine.join(counts, ["query_id", "d"], "left")
        .select(
            "query_id", "d",
            F.sum(F.coalesce("cnt", F.lit(0))).over(w).cast("long").alias("x"),
        )
    )
    terms = xs.selectExpr("query_id", "x", f"{RBO_TERM} AS tq")
    return (
        terms.groupBy("query_id")
        .agg(
            F.max("x").cast("long").alias("n_shared"),
            F.sum("tq").cast("long").alias("rbo_q"),
        )
        .selectExpr("query_id", "n_shared", "rbo_q", f"{RBO_OUT} AS rbo")
    )


def hard_negatives(docs: DataFrame, emb: DataFrame, n_queries: int,
                   lex_top: int = LEX_TOP,
                   cos_max: float = NEG_COS_MAX) -> DataFrame:
    """(query_id, cand_id, overlap, lex_rank, cosine_sim): candidates in
    the lexical top-``lex_top`` whose embedding cosine to the query is
    BELOW ``cos_max`` — lexically plausible, semantically far: the
    classic hard-negative set for contrastive embedding training.

    The cut compares the 4-decimal-rounded cosine (engine-portable, same
    convention as the kNN ranking).  Scale: the lexical top frame is
    ≤ n_queries × lex_top rows and is broadcast onto the embeddings scan
    twice (query vectors, candidate vectors) — the corpus never shuffles."""
    lex = lexical_topn(docs, n_queries, lex_top)
    qv = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cv = emb.select(F.col("vec_id").alias("cand_id"),
                    F.col("embedding").alias("cvec"))
    return (
        cv.join(F.broadcast(lex), "cand_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "cosine_sim", F.round(cosine(F.col("qvec"), F.col("cvec")), 4)
        )
        .filter(F.col("cosine_sim") < cos_max)
        .select("query_id", "cand_id", "overlap", "lex_rank", "cosine_sim")
    )


NDCG_K = 10
NDCG_SCALE = 10**9
NDCG_HI_CUT = SEM_TOP // 4  # sem_rank <= cut -> grade 2 (gain 3), else 1


def ndcg_discounts(k: int = NDCG_K, scale: int = NDCG_SCALE) -> list[int]:
    """The DCG position-discount table 1/log2(i+1), i = 1..k,
    floor-quantized to ``scale`` units.  Computed ONCE at plan-build time
    and interpolated into BOTH engines as integer literals, so the
    discount applied to a gain is exact shared arithmetic — the float
    log exists only here, never in either engine."""
    import math

    return [int(scale / math.log2(i + 1)) for i in range(1, k + 1)]


def ndcg_eval(docs: DataFrame, emb: DataFrame, n_queries: int,
              k: int = NDCG_K) -> DataFrame:
    """(query_id, n_rel, dcg_q, idcg_q, ndcg): nDCG@k of the stop-cut
    shingle LEXICAL ranking, judged against cosine-kNN pseudo-relevance
    — the standard cross-ranker evaluation when no human labels exist
    (semantic top-``SEM_TOP`` is the relevant set; the top quarter gets
    grade 2, the rest grade 1; exponential gains 2^g - 1).

    All accumulation is exact BIGINT: gains are small integers, the
    discount table comes from ``ndcg_discounts`` as shared literals, so
    dcg_q / idcg_q are exact integer sums and the only float is the
    final one-division ndcg, rounded at output.

    Scale: relevance and ranking frames are ≤ n_queries × top rows;
    everything after the two rankers is broadcast-sized.  The rankers
    themselves carry the documented lexical/semantic plan shapes."""
    disc = ndcg_discounts(k)
    disc_arr = F.array(*[F.lit(d).cast("long") for d in disc])

    lex = lexical_topn(docs, n_queries, LEX_TOP)
    sem = semantic_topk(emb, n_queries, SEM_TOP).select(
        "query_id",
        F.col("neighbor_id").alias("cand_id"),
        F.col("rank").alias("sem_rank"),
    )
    # rel feeds dcg, idcg AND n_rel — a narrow projection off the
    # already-materialized shared sem frame, so the re-refs are free
    rel = sem.select(
        "query_id", "cand_id",
        F.when(F.col("sem_rank") <= NDCG_HI_CUT, F.lit(3))
        .otherwise(F.lit(1)).cast("long").alias("gain"),
    )

    dcg = (
        lex.filter(F.col("lex_rank") <= k)
        # rel is <= n_queries x SEM_TOP rows BY CONSTRUCTION — broadcast,
        # never sort-merge on a corpus-keyed exchange (timing at test SF is
        # variance-dominated; the win is structural — at scale the SMJ
        # would shuffle the lexical frame for a 100-row right side)
        .join(F.broadcast(rel), ["query_id", "cand_id"], "left")
        .select(
            "query_id",
            (F.coalesce("gain", F.lit(0))
             * F.element_at(disc_arr, F.col("lex_rank").cast("int")))
            .alias("g"),
        )
        .groupBy("query_id")
        .agg(F.sum("g").cast("long").alias("dcg_q"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("gain"), F.asc("cand_id"))
    idcg = (
        rel.withColumn("ir", F.row_number().over(w))
        .filter(F.col("ir") <= k)
        .select("query_id",
                (F.col("gain") * F.element_at(disc_arr, F.col("ir")))
                .alias("g"))
        .groupBy("query_id")
        .agg(F.sum("g").cast("long").alias("idcg_q"))
    )
    nrel = rel.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_rel"))
    return (
        nrel.join(F.broadcast(dcg), "query_id", "left")
        .join(F.broadcast(idcg), "query_id")
        .select(
            "query_id", "n_rel",
            F.coalesce("dcg_q", F.lit(0)).cast("long").alias("dcg_q"),
            "idcg_q",
            (F.round(F.coalesce("dcg_q", F.lit(0)) / F.col("idcg_q"), 6)
             + F.lit(0.0)).alias("ndcg"),
        )
    )


MAP_SCALE = 10**9


def mrr_map_eval(docs: DataFrame, emb: DataFrame, n_queries: int,
                 k: int = NDCG_K) -> DataFrame:
    """(query_id, n_rel, first_rel, hits_at_k, rr, ap) — MRR and MAP@k of
    the lexical ranking judged against cosine-kNN pseudo-relevance (same
    judgment harness as ndcg_eval; binary relevance = membership in the
    semantic top-``SEM_TOP``).  Completes the classic IR-eval triple
    (nDCG / MRR / MAP) over the same two rankers.

    Exactness: precision@i = cum_hits/i quantizes to a MAP_SCALE BIGINT
    the moment it is produced (the ndcg_discounts discipline), so AP's
    cross-position sum is exact; rr and the final AP division are single
    correctly-rounded float ops.  Queries with no relevant doc in the
    lexical top-k emit ap = 0.0 and NULL rr/first_rel.

    Scale: identical shape to ndcg_eval — everything after the rankers
    is <= n_queries x k rows, broadcast-sized."""
    lex = lexical_topn(docs, n_queries, LEX_TOP)
    rel = semantic_topk(emb, n_queries, SEM_TOP).select(
        "query_id", F.col("neighbor_id").alias("cand_id")
    ).withColumn("hit", F.lit(1))

    w = Window.partitionBy("query_id").orderBy("lex_rank") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = (
        lex.filter(F.col("lex_rank") <= k)
        .join(F.broadcast(rel), ["query_id", "cand_id"], "left")
        .select("query_id", "lex_rank",
                F.coalesce("hit", F.lit(0)).alias("hit"))
        .withColumn("cum", F.sum("hit").over(w).cast("long"))
    )
    per_q = ranked.groupBy("query_id").agg(
        F.min(F.when(F.col("hit") == 1, F.col("lex_rank")))
        .cast("long").alias("first_rel"),
        F.max("cum").cast("long").alias("hits_at_k"),
        F.sum(F.when(
            F.col("hit") == 1,
            F.floor(F.lit(float(MAP_SCALE)) * F.col("cum")
                    / F.col("lex_rank") + F.lit(0.5)).cast("long"))
            .otherwise(F.lit(0))).cast("long").alias("ap_q"),
    )
    nrel = rel.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_rel"))
    return (
        nrel.join(F.broadcast(per_q), "query_id", "left")
        .select(
            "query_id", "n_rel", "first_rel",
            F.coalesce("hits_at_k", F.lit(0)).cast("long").alias("hits_at_k"),
            (F.round(F.lit(1.0) / F.col("first_rel"), 6) + F.lit(0.0))
            .alias("rr"),
            F.coalesce(
                F.round(
                    (F.col("ap_q").cast("double") / MAP_SCALE)
                    / F.least(F.col("n_rel"), F.lit(k)), 6) + F.lit(0.0),
                F.lit(0.0)).alias("ap"),
        )
    )


RBP_P = 0.8


def rbp_weights(k: int = NDCG_K, p: float = RBP_P,
                scale: int = MAP_SCALE) -> list[int]:
    """Quantized rank-biased-precision weights (1-p) p^(i-1) for ranks
    1..k, computed ONCE in Python and shared with the oracle as integer
    literals (fractional pow is not bit-reproducible across engines —
    the ndcg_discounts discipline)."""
    return [int(round((1.0 - p) * (p ** (i - 1)) * scale))
            for i in range(1, k + 1)]


def rbp_eval(docs: DataFrame, emb: DataFrame, n_queries: int,
             k: int = NDCG_K) -> DataFrame:
    """(query_id, n_rel, rbp) — rank-biased precision (Moffat &
    Zobel 2008) of the lexical ranking against the semantic
    pseudo-relevance set: RBP = (1-p) sum p^(i-1) rel_i models a user
    scanning down with persistence p; unlike MRR/MAP it needs no recall
    base, so it is the metric of choice when the relevant set is
    uncertain.  Weights are shared integer literals; the per-query sum
    is an exact BIGINT with ONE division at output.  Same broadcast
    post-ranker shape as ndcg_eval / mrr_map_eval."""
    wts = rbp_weights(k)
    warr = F.array(*[F.lit(w).cast("long") for w in wts])
    lex = lexical_topn(docs, n_queries, LEX_TOP)
    rel = semantic_topk(emb, n_queries, SEM_TOP).select(
        "query_id", F.col("neighbor_id").alias("cand_id"),
        F.lit(1).alias("hit"))
    per_q = (
        lex.filter(F.col("lex_rank") <= k)
        .join(F.broadcast(rel.select("query_id", "cand_id", "hit")),
              ["query_id", "cand_id"], "left")
        .select(
            "query_id",
            (F.coalesce("hit", F.lit(0))
             * F.element_at(warr, F.col("lex_rank").cast("int")))
            .alias("w"),
        )
        .groupBy("query_id")
        .agg(F.sum("w").cast("long").alias("wq"))
    )
    nrel = rel.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_rel"))
    return (
        nrel.join(F.broadcast(per_q), "query_id", "left")
        .select(
            "query_id", "n_rel",
            (F.round(F.coalesce("wq", F.lit(0)).cast("double")
                     / MAP_SCALE, 6) + F.lit(0.0)).alias("rbp"),
        )
    )


ERR_SCALE = 10**12
ERR_DEN = 4  # stop probabilities R_i = (2^g - 1)/4 for grades g in {1, 2}


def err_denoms(k: int = NDCG_K) -> list[int]:
    """The ERR per-rank denominators r * 4^r for ranks 1..k — exact
    integers precomputed once and interpolated into BOTH engines as
    shared literals (the ndcg_discounts discipline), so each rank's term
    is a single float division over exact-integer operands."""
    return [i * (ERR_DEN ** i) for i in range(1, k + 1)]


def err_eval(docs: DataFrame, emb: DataFrame, n_queries: int,
             k: int = NDCG_K) -> DataFrame:
    """(query_id, n_rel, err_q, err) — Expected Reciprocal Rank
    (Chapelle et al. 2009) of the lexical ranking against the semantic
    pseudo-relevance set: ERR = sum_r (1/r) R_r prod_{i<r}(1 - R_i),
    the cascade-model metric that (unlike nDCG/RBP) discounts a hit by
    the probability the user was already satisfied above it.

    Exactness: stop probabilities are dyadic rationals R = n/4 with
    n in {0, 1, 3} (grade 2 for the semantic top quarter, else 1, the
    ndcg_eval convention), so prod_{i<r}(1 - R_i) carries as the exact
    integer product prod(4 - n_i) <= 4^(k-1) in a window ``product``
    (exact in a double far below 2^53); each term does ONE division by
    the shared r*4^r literal, floor-quantizes to ERR_SCALE, and the
    per-query sum is an exact BIGINT.

    Scale shape: identical to ndcg_eval — after the two rankers
    everything is a broadcast join on the <= n_queries x k frame; the
    window partitions by query over <= k rows."""
    den_arr = F.array(*[F.lit(d).cast("long") for d in err_denoms(k)])
    lex = lexical_topn(docs, n_queries, LEX_TOP)
    sem = semantic_topk(emb, n_queries, SEM_TOP).select(
        "query_id", F.col("neighbor_id").alias("cand_id"),
        F.col("rank").alias("sem_rank"))
    # rel feeds terms AND n_rel — narrow off the shared sem checkpoint
    rel = sem.select(
        "query_id", "cand_id",
        F.when(F.col("sem_rank") <= NDCG_HI_CUT, F.lit(3))
        .otherwise(F.lit(1)).cast("long").alias("num"),
    )
    w_prev = (Window.partitionBy("query_id").orderBy("lex_rank")
              .rowsBetween(Window.unboundedPreceding, -1))
    base = (
        lex.filter(F.col("lex_rank") <= k)
        .join(F.broadcast(rel), ["query_id", "cand_id"], "left")
        .select("query_id", "lex_rank",
                F.coalesce("num", F.lit(0)).cast("long").alias("num"))
    )
    terms = base.select(
        "query_id",
        F.floor(
            F.lit(float(ERR_SCALE))
            * (F.col("num")
               * F.coalesce(
                   F.product((F.lit(ERR_DEN) - F.col("num"))
                             .cast("double")).over(w_prev),
                   F.lit(1.0)))
            / F.element_at(den_arr, F.col("lex_rank").cast("int"))
        ).cast("long").alias("tq"),
    )
    per_q = terms.groupBy("query_id").agg(
        F.sum("tq").cast("long").alias("err_q"))
    nrel = rel.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_rel"))
    return (
        nrel.join(F.broadcast(per_q), "query_id", "left")
        .select(
            "query_id", "n_rel",
            F.coalesce("err_q", F.lit(0)).cast("long").alias("err_q"),
            (F.round(F.coalesce("err_q", F.lit(0)) / F.lit(float(ERR_SCALE)),
                     6) + F.lit(0.0)).alias("err"),
        )
    )
