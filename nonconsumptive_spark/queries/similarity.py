"""Similarity-search queries over the `embeddings` table, and the
embedding-space diagnostics (principal components, isotropy, bitext
margins, label agreement).

The brute-force top-k is the oracle-checked exact baseline; the LSH/IVF
variants are the approximate scale paths, oracle-checked on QUALITY: their
recall against the exact baseline must clear a bound (plus exact-side
counts DuckDB recomputes itself); tests additionally measure the raw
recall numbers.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nonconsumptive_spark.operators import similarity as sim
from nonconsumptive_spark.queries import load, register

_N_QUERIES = 10  # first N vec_ids serve as the query set
_K = 5

# DuckDB: exact cosine in doubles with identical rank tie-break.
_DUCK_KNN = f"""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
      FROM embeddings WHERE vec_id < {_N_QUERIES}),
    c AS (
      SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings),
    scored AS (
      SELECT q.query_id, c.neighbor_id,
             round(list_dot_product(q.qvec, c.cvec) /
                   (sqrt(list_dot_product(q.qvec, q.qvec)) *
                    sqrt(list_dot_product(c.cvec, c.cvec))), 4) AS cosine_sim
      FROM q CROSS JOIN c
      WHERE q.query_id <> c.neighbor_id),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, cosine_sim, rank
    FROM ranked WHERE rank <= {_K}
"""


@register(
    "q_knn_cosine_bruteforce",
    oracle=_DUCK_KNN,
    doc="Exact brute-force cosine top-5 for 10 query vectors; broadcast "
        "query side, deterministic (rounded-sim, id) ranking.",
)
def q_knn_cosine_bruteforce(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return sim.knn_bruteforce(emb, queries, k=_K)


@register(
    "q_embedding_norms",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))), 4) AS l2_norm
    FROM embeddings
    """,
    doc="Per-vector L2 norm in doubles.",
)
def q_embedding_norms(spark, sf_dir):
    return sim.embedding_norms(load(spark, sf_dir, "embeddings"))


@register(
    "q_norms_by_label",
    oracle="""
    SELECT label,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 4) AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
    doc="Aggregate over an array-typed column: mean L2 norm per label.",
)
def q_norms_by_label(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(F.avg(sim._norm(F.col("embedding"))), 4).alias("avg_norm"),
    )


@register(
    "q_cosine_near_pairs",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[])) /
                 (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                        CAST(a.embedding AS DOUBLE[]))) *
                  sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])))), 4) AS cosine_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) /
                (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                       CAST(a.embedding AS DOUBLE[]))) *
                 sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])))), 4) >= 0.3
    """,
    doc="J6 theta-join form + embedding-cosine near-dup: all same-label "
        "pairs (id_a < id_b) with cosine ≥ 0.3.  Label-blocked so the "
        "quadratic stage shuffles on the block key, not a full cross join.",
)
def q_cosine_near_pairs(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    return sim.cosine_near_dup_pairs(emb, threshold=0.3, block_col="label")


# ANN results are approximate so their ROWS aren't SQL-recomputable, but
# their QUALITY is: recall against the exact brute-force baseline (both
# computed in Spark, deterministic seeded hyperplanes/centroids) must clear
# a bound the oracle asserts as TRUE, alongside exact-side counts DuckDB
# recomputes itself.  Measured at sf0.01: LSH 0.86, IVF 0.78.
_RECALL_BOUND = 0.6

_DUCK_RECALL = f"""
    SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST(count(*) AS BIGINT) AS n_exact,
           TRUE AS recall_ok
    FROM ({_DUCK_KNN})
"""


def _recall_check(spark, sf_dir, approx_fn):
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    # the exact top-k feeds both the hits join and the count agg —
    # materialize so the corpus-wide scoring pass runs once, not twice
    exact = materialize_once(sim.knn_bruteforce(emb, queries, k=_K), "knn_exact")
    approx = approx_fn(emb, queries)
    hits = exact.join(
        approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    )
    agg = exact.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count("*").alias("n_exact"),
    )
    return agg.crossJoin(hits.agg(F.count("*").alias("n_hits"))).select(
        "n_queries", "n_exact",
        (F.col("n_hits") / F.col("n_exact") >= _RECALL_BOUND).alias("recall_ok"),
    )


@register(
    "q_knn_cosine_lsh",
    oracle=_DUCK_RECALL,
    doc="Approximate top-k via random-hyperplane LSH bucketing — the 100 TB "
        f"scale path.  Oracle checks recall ≥ {_RECALL_BOUND} vs the exact "
        "baseline (measured 0.86 at sf0.01; deterministic seeded planes) "
        "plus DuckDB-recomputed exact-side counts.",
)
def q_knn_cosine_lsh(spark, sf_dir):
    return _recall_check(
        spark, sf_dir,
        lambda emb, q: sim.knn_lsh(emb, q, k=_K, n_planes=4, n_tables=12),
    )


@register(
    "q_knn_cosine_ivf",
    oracle=_DUCK_RECALL,
    doc="Approximate top-k via IVF coarse quantization (nearest-centroid "
        "cells, multi-probe) — the partition-pruning ANN path: at scale the "
        "corpus is written partitioned by cell and probes prune whole "
        f"partitions.  Oracle checks recall ≥ {_RECALL_BOUND} (measured "
        "0.78 at sf0.01) plus exact-side counts.",
)
def q_knn_cosine_ivf(spark, sf_dir):
    return _recall_check(
        spark, sf_dir,
        lambda emb, q: sim.knn_ivf(emb, q, k=_K, n_centroids=16, n_probe=8),
    )


# --------------------------------------------------------------------------
@register(
    "q_quantize_int8",
    oracle="""
    WITH qz AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS v,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
      FROM embeddings),
    codes AS (
      SELECT vec_id, scale,
             CASE WHEN scale > 0
                  THEN list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
                  ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS q
      FROM qz)
    SELECT vec_id,
           round(scale, 6) AS scale_r,
           CAST(list_sum(q) AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
           CAST(list_max(list_transform(q, x -> abs(x))) AS BIGINT) AS q_max_abs
    FROM codes
    """,
    doc="Symmetric int8 quantization of the embedding column (the 4x "
        "storage/bandwidth lever for ANN at scale).  Codes are exact "
        "integers, so the oracle compares integer checksums (sum, L1, "
        "max|q|) plus the rounded scale — no float-sum ordering risk; "
        "reconstruction-error bounds live in pytest.",
)
def q_quantize_int8(spark, sf_dir):
    qv = sim.quantized_vectors(load(spark, sf_dir, "embeddings"))
    absq = F.transform(F.col("q"), lambda x: F.abs(x))
    zero = F.lit(0).cast("long")
    return qv.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale_r"),
        F.aggregate(F.col("q"), zero, lambda a, v: a + v).alias("q_sum"),
        F.aggregate(absq, zero, lambda a, v: a + v).alias("q_l1"),
        F.array_max(absq).cast("long").alias("q_max_abs"),
    )


@register(
    "q_knn_quantized",
    oracle=_DUCK_RECALL,
    doc="Top-k cosine over int8-quantized vectors (integer dot products, "
        f"rescaled).  Oracle checks recall ≥ {_RECALL_BOUND} vs the exact "
        "float baseline (measured ≈1.0 at sf0.01 — int8 cosine error is "
        "~1e-3); same broadcast + per-query window shape as the exact kNN.",
)
def q_knn_quantized(spark, sf_dir):
    return _recall_check(
        spark, sf_dir,
        lambda emb, q: sim.knn_quantized(emb, q, k=_K),
    )


# --------------------------------------------------------------------------
# PQ + ADC: full-replay oracle (hash-exact, not just a recall bound) —
# the same generated-CTE discipline as the k-means/BPE/PageRank oracles.
# All interim values are exact integers (grid quantization, integer Lloyd,
# integer squared distances), so the whole train→encode→score→rank
# pipeline replays bit-for-bit in DuckDB.
_PQ_M = sim.PQ_M
_PQ_KSUB = sim.PQ_KSUB
_PQ_ITERS = sim.PQ_ITERS
_PQ_DIM = 64  # fixture embedding dimensionality


def _pq_subspace_chain(j: int, ksub: int, n_iter: int, dsub: int) -> str:
    """CTE chain training subspace ``j``'s codebook and assigning every
    corpus vector to its final centroid (a{j}_{n_iter+1} carries the
    winning centroid vector cq)."""
    lo, hi = j * dsub + 1, (j + 1) * dsub
    parts = [f"""
    q{j} AS (SELECT vec_id, xq[{lo}:{hi}] AS sx FROM q),
    c{j}_0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, sx AS cq
      FROM (SELECT vec_id, sx FROM q{j} ORDER BY vec_id LIMIT {ksub}))"""]
    for i in range(1, n_iter + 2):
        parts.append(f"""
    a{j}_{i} AS (
      SELECT vec_id, sx, cid, cq, dist
      FROM (SELECT s.vec_id, s.sx, c.cid, c.cq,
                   list_sum(list_transform(list_zip(s.sx, c.cq),
                     p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
            FROM q{j} s CROSS JOIN c{j}_{i - 1} c)
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1)""")
        if i == n_iter + 1:
            break
        parts.append(f"""
    s{j}_{i} AS (
      SELECT cid, pos,
             CAST(floor(CAST(sum(v) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS cv
      FROM (SELECT cid, generate_subscripts(sx, 1) AS pos, unnest(sx) AS v
            FROM a{j}_{i})
      GROUP BY cid, pos),
    c{j}_{i} AS (
      SELECT p.cid, coalesce(n.cq, p.cq) AS cq
      FROM c{j}_{i - 1} p
      LEFT JOIN (SELECT cid, list(cv ORDER BY pos) AS cq
                 FROM s{j}_{i} GROUP BY cid) n USING (cid))""")
    return ",".join(parts)


def _pq_adc_oracle(m: int, ksub: int, n_iter: int, dim: int, grid: int,
                   n_queries: int, k: int) -> str:
    dsub = dim // m
    fin = n_iter + 1
    chains = ",".join(_pq_subspace_chain(j, ksub, n_iter, dsub)
                      for j in range(m))
    enc_joins = " JOIN ".join(
        [f"(SELECT vec_id, cq AS cq0 FROM a0_{fin}) e0"]
        + [f"(SELECT vec_id, cq AS cq{j} FROM a{j}_{fin}) e{j} USING (vec_id)"
           for j in range(1, m)]
    )
    dist_terms = " + ".join(
        f"list_sum(list_transform(list_zip(qs.xq[{j * dsub + 1}:{(j + 1) * dsub}], "
        f"enc.cq{j}), p -> (p[1] - p[2]) * (p[1] - p[2])))"
        for j in range(m)
    )
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {grid}.0 + 0.5) AS BIGINT)) AS xq
      FROM embeddings),
    {chains},
    enc AS (SELECT * FROM {enc_joins}),
    qs AS (SELECT vec_id AS query_id, xq FROM q WHERE vec_id < {n_queries}),
    scored AS (
      SELECT qs.query_id, enc.vec_id AS neighbor_id,
             CAST({dist_terms} AS BIGINT) AS adc_dist
      FROM qs CROSS JOIN enc
      WHERE enc.vec_id <> qs.query_id),
    ranked AS (
      SELECT query_id, neighbor_id, adc_dist,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist ASC, neighbor_id ASC)
                  AS BIGINT) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, adc_dist, rank FROM ranked WHERE rank <= {k}
    """


@register(
    "q_knn_pq_adc",
    oracle=_pq_adc_oracle(_PQ_M, _PQ_KSUB, _PQ_ITERS, _PQ_DIM,
                          1 << 20, _N_QUERIES, _K),
    doc=f"Product-quantized kNN with asymmetric-distance scoring (Jégou "
        f"et al.): {_PQ_M} subspace codebooks of {_PQ_KSUB} integer-grid "
        f"centroids ({_PQ_ITERS} Lloyd rounds each), corpus stored as "
        "codes, queries scored against centroids.  Exact integer "
        "arithmetic end-to-end, so the oracle replays training, encoding, "
        "ADC scoring and ranking as generated CTEs — hash-exact, stronger "
        "than the LSH/IVF recall bounds.  Scoring is a broadcast join "
        "with the codebook constant-folded; the only exchange is the "
        "per-query top-k window.",
)
def q_knn_pq_adc(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return sim.knn_pq_adc(emb, queries, k=_K, dim=_PQ_DIM)


# --------------------------------------------------------------------------
@register(
    "q_label_centroid_distances",
    oracle=f"""
    WITH comp AS (
      SELECT label, generate_subscripts(embedding, 1) AS dim,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * {sim.CENT_SCALE})
                  AS BIGINT) AS cq
      FROM embeddings),
    sums AS (SELECT label, dim, CAST(sum(cq) AS BIGINT) AS s
             FROM comp GROUP BY label, dim),
    vecs AS (SELECT label, list(s ORDER BY dim) AS sv FROM sums GROUP BY label),
    cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n
            FROM embeddings GROUP BY label),
    selfd AS (
      SELECT label, sv,
             CAST(list_sum(list_transform(sv, x -> x * x)) AS BIGINT) AS daa
      FROM vecs)
    SELECT a.label AS label_a, b.label AS label_b,
           ca.n AS n_a, cb.n AS n_b,
           round(CAST(list_sum(list_transform(range(1, len(a.sv) + 1),
                                              i -> a.sv[i] * b.sv[i]))
                      AS BIGINT) * 1.0
                 / (sqrt(CAST(a.daa AS DOUBLE)) * sqrt(CAST(b.daa AS DOUBLE))),
                 6) + 0.0 AS cos_centroid
    FROM selfd a JOIN selfd b ON a.label < b.label
    JOIN cnt ca ON ca.label = a.label
    JOIN cnt cb ON cb.label = b.label
    """,
    doc="Pairwise cosine between per-label embedding centroids — the "
        "embedding-space analog of q_js_divergence's corpus-drift measure. "
        "Components quantize to integer 1e-3 units before any agg, the "
        "count normalization cancels out of cosine, and dots are pure "
        "BIGINT arithmetic (operators/similarity.py:"
        "label_centroid_distances).",
)
def q_label_centroid_distances(spark, sf_dir):
    return sim.label_centroid_distances(load(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
_DECON_THRESH = 0.35  # sf0.01 max-heldout-cosine ranges ~0.15-0.49


@register(
    "q_embedding_decontamination",
    oracle=f"""
    WITH h AS (
      SELECT CAST(embedding AS DOUBLE[]) AS hvec FROM embeddings
      WHERE label = 0),
    c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cvec FROM embeddings
      WHERE label <> 0),
    m AS (
      SELECT c.vec_id,
             round(max(list_dot_product(c.cvec, h.hvec) /
                       (sqrt(list_dot_product(c.cvec, c.cvec)) *
                        sqrt(list_dot_product(h.hvec, h.hvec)))), 4)
               AS max_heldout_cosine
      FROM c CROSS JOIN h GROUP BY c.vec_id)
    SELECT vec_id, max_heldout_cosine + 0.0 AS max_heldout_cosine,
           max_heldout_cosine >= {_DECON_THRESH} AS is_contaminated
    FROM m
    """,
    doc="Embedding-space decontamination: max cosine of every corpus "
        "vector (label<>0) against the held-out benchmark set (label=0), "
        "flagged at 0.35 — catches paraphrased benchmark leakage that "
        "n-gram decontamination (q_decontamination) cannot.  Plan: the "
        "benchmark side broadcasts, the corpus scans once through a BNLJ "
        "and ships only (id, max) pairs; the flag cuts on the ROUNDED "
        "value so both engines use the same 4-decimal key "
        "(operators/similarity.py:embedding_decontaminate).",
)
def q_embedding_decontamination(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    return sim.embedding_decontaminate(
        emb.filter(F.col("label") != 0),
        emb.filter(F.col("label") == 0),
        threshold=_DECON_THRESH,
    )


# --------------------------------------------------------------------------
_DIM = 64


@register(
    "q_embedding_dim_corr",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) - 1 AS i,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                        * {sim.DIMCORR_SCALE} + 0.5) AS BIGINT) AS q
      FROM embeddings),
    d AS (
      SELECT i, CAST(count(*) AS BIGINT) AS n, CAST(sum(q) AS BIGINT) AS s,
             CAST(sum(q * q) AS BIGINT) AS ss
      FROM e GROUP BY i),
    x AS (
      SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS sij
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i < b.i
      GROUP BY a.i, b.i)
    SELECT CAST(x.i AS BIGINT) AS dim_i, CAST(x.j AS BIGINT) AS dim_j,
           CASE WHEN da.n * da.ss - da.s * da.s > 0
                 AND db.n * db.ss - db.s * db.s > 0
                THEN round(CAST(da.n * x.sij - da.s * db.s AS DOUBLE)
                           / (sqrt(CAST(da.n * da.ss - da.s * da.s AS DOUBLE))
                              * sqrt(CAST(db.n * db.ss - db.s * db.s AS DOUBLE))),
                           4) + 0.0
                ELSE 0.0 END AS pearson_r
    FROM x JOIN d da ON da.i = x.i JOIN d db ON db.i = x.j
    """,
    doc="Embedding-dimension Pearson correlation (gram-matrix upper "
        "triangle, 2016 pairs at d=64) — the PCA/whitening/redundancy "
        "diagnostic in ONE distributed pass.  Elements quantized to exact "
        "1e-4-unit BIGINTs so all moments are exact integer sums; cross "
        "products generated in-row and partially aggregated map-side, so "
        "shuffle volume is #partitions x d^2, independent of corpus size "
        "(operators/similarity.py:embedding_dim_corr).",
)
def q_embedding_dim_corr(spark, sf_dir):
    return sim.embedding_dim_corr(load(spark, sf_dir, "embeddings"), dim=_DIM)


# -- top principal component by exact-integer power iteration ---------------
def _pca_ctes() -> tuple[str, str, int]:
    """(WITH-body, final v CTE name, dim+1) — shared by the component and
    the all-but-the-top residual oracles."""
    from nonconsumptive_spark.operators.similarity import (
        PCA_DIM,
        PCA_ITERS,
        PCA_SCALE,
    )

    d1 = PCA_DIM + 1
    sc = f"{float(PCA_SCALE)!r}"
    v0 = "[" + ", ".join([repr(1.0 / PCA_DIM ** 0.5)] * PCA_DIM) + "]"
    cte = [f"""
    base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
             FROM embeddings),
    nn AS (SELECT count(*) AS n FROM base),
    mq AS (
      SELECT j, CAST(sum(CAST(floor({sc} * x[j]) AS BIGINT)) AS BIGINT) AS s
      FROM base, unnest(range(1, {d1})) AS r(j) GROUP BY j),
    mu AS (
      SELECT list_transform(list(s ORDER BY j),
                            e -> CAST(e AS DOUBLE) / (n * {sc})) AS mu
      FROM mq CROSS JOIN nn GROUP BY n),
    centered AS (
      SELECT vec_id, list_transform(range(1, {d1}), j -> x[j] - mu[j]) AS xc
      FROM base CROSS JOIN mu),
    v0 AS (SELECT {v0}::DOUBLE[] AS v)"""]
    for i in range(1, PCA_ITERS + 1):
        cte.append(f"""
    d{i} AS (
      SELECT xc, list_reduce(list_transform(range(1, {d1}),
                                            j -> xc[j] * v[j]),
                             (a, b) -> a + b) AS d
      FROM centered CROSS JOIN v{i - 1}),
    q{i} AS (
      SELECT j, CAST(sum(CAST(floor({sc} * d * xc[j]) AS BIGINT))
                 AS BIGINT) AS s
      FROM d{i}, unnest(range(1, {d1})) AS r(j) GROUP BY j),
    v{i} AS (
      -- mirror the Spark-side zero-variance guard (drift-trap hygiene;
      -- inactive on the fixtures)
      SELECT list_transform(sarr, e -> CASE WHEN n2 > 0
                 THEN CAST(e AS DOUBLE) / sqrt(n2) ELSE 0.0 END) AS v
      FROM (
        SELECT list(s ORDER BY j) AS sarr,
               list_reduce(list_transform(list(s ORDER BY j),
                                          e -> CAST(e AS DOUBLE)
                                               * CAST(e AS DOUBLE)),
                           (a, b) -> a + b) AS n2
        FROM q{i}))""")
    return "WITH" + ",".join(cte), f"v{PCA_ITERS}", d1


def _pca_oracle() -> str:
    ctes, vk, d1 = _pca_ctes()
    return ctes + f"""
    SELECT CAST(j AS BIGINT) AS dim, round(v[j], 6) + 0.0 AS loading
    FROM {vk}, unnest(range(1, {d1})) AS r(j)"""


def _abtt_oracle() -> str:
    ctes, vk, d1 = _pca_ctes()
    return ctes + f"""
    , pr AS (
      SELECT vec_id,
             list_reduce(list_transform(range(1, {d1}),
                                        j -> xc[j] * v[j]),
                         (a, b) -> a + b) AS p,
             xc, v
      FROM centered CROSS JOIN {vk}),
    rr AS (
      SELECT vec_id, p,
             list_reduce(list_transform(
               list_transform(range(1, {d1}), j -> xc[j] - p * v[j]),
               r -> r * r), (a, b) -> a + b) AS r2
      FROM pr)
    SELECT vec_id, round(p, 4) + 0.0 AS proj,
           round(sqrt(r2), 4) + 0.0 AS resid_norm
    FROM rr"""


@register("q_top_component", _pca_oracle(),
          doc="Largest connected component of the token graph: "
              "iterative min-label rounds then one size agg; lineage cut per "
              "round.")
def q_top_component(spark, sf_dir):
    from nonconsumptive_spark.operators.similarity import (
        top_principal_component,
    )

    return top_principal_component(load(spark, sf_dir, "embeddings"))


@register("q_abtt_residuals", _abtt_oracle(),
          doc="All-but-the-top embedding residuals: mean + top "
              "principal direction via power iteration (1-row/64-dim attaches), "
              "residual norms per doc.")
def q_abtt_residuals(spark, sf_dir):
    from nonconsumptive_spark.operators.similarity import (
        remove_top_component,
    )

    return remove_top_component(load(spark, sf_dir, "embeddings"))


# -- margin-based bitext mining (Artetxe & Schwenk 2019) ---------------------
_BT_K = 4
_BT_CAP = 128  # src batch: even vec_id below this (64 query vectors)
_BT_GRID = 1 << 20
_BT_SCALE = 1_000_000_000


def _bitext_oracle(k: int, cap: int, grid: int, scale: int) -> str:
    quant = (f"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) "
             f"* {grid}.0 + 0.5) AS BIGINT))")
    return f"""
    WITH sn AS (
      SELECT vec_id AS src_id, xq,
             list_sum(list_transform(xq, v -> v * v)) AS nq
      FROM (SELECT vec_id, {quant} AS xq FROM embeddings
            WHERE vec_id % 2 = 0 AND vec_id < {cap})),
    tn AS (
      SELECT vec_id AS tgt_id, xq,
             list_sum(list_transform(xq, v -> v * v)) AS nq
      FROM (SELECT vec_id, {quant} AS xq FROM embeddings
            WHERE vec_id % 2 = 1)),
    p AS (
      SELECT sn.src_id, tn.tgt_id,
             CAST(floor(CAST(list_sum(list_transform(list_zip(sn.xq, tn.xq),
                                z -> z[1] * z[2])) AS DOUBLE)
                        / (sqrt(CAST(sn.nq AS DOUBLE))
                           * sqrt(CAST(tn.nq AS DOUBLE)))
                        * {scale}.0 + 0.5) AS BIGINT) AS qc
      FROM sn CROSS JOIN tn
      WHERE sn.nq > 0 AND tn.nq > 0),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY src_id
                                ORDER BY qc DESC, tgt_id) AS rf,
             row_number() OVER (PARTITION BY tgt_id
                                ORDER BY qc DESC, src_id) AS rb
      FROM p),
    sx AS (SELECT src_id, sum(qc) AS snn_x FROM r WHERE rf <= {k}
           GROUP BY src_id),
    sy AS (SELECT tgt_id, sum(qc) AS snn_y FROM r WHERE rb <= {k}
           GROUP BY tgt_id),
    m AS (
      SELECT r.src_id, r.tgt_id, r.qc,
             2 * {k} * r.qc - sx.snn_x - sy.snn_y AS margin_scaled
      FROM r JOIN sx USING (src_id) JOIN sy USING (tgt_id)
      WHERE r.rf <= {k})
    SELECT src_id, tgt_id, CAST(qc AS BIGINT) AS cos_scaled,
           CAST(margin_scaled AS BIGINT) AS margin_scaled
    FROM m
    QUALIFY row_number() OVER (PARTITION BY src_id
                               ORDER BY margin_scaled DESC, tgt_id) = 1"""


@register("q_bitext_margin", _bitext_oracle(_BT_K, _BT_CAP, _BT_GRID, _BT_SCALE),
          doc="Margin-based bitext mining scores (forward/"
              "backward nearest-neighbor ratio) over a bounded query batch.")
def q_bitext_margin(spark, sf_dir):
    from nonconsumptive_spark.operators import similarity as sim

    emb = load(spark, sf_dir, "embeddings")
    src = emb.where((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < _BT_CAP))
    tgt = emb.where(F.col("vec_id") % 2 == 1)
    return sim.bitext_margin_pairs(src, tgt, k=_BT_K)


# -- embedding-space isotropy --------------------------------------------------
# Components quantize to integer 1e-4 units BEFORE any sum, so the
# per-dimension moments are exact BIGINTs at any row count; per-dim
# variances and the entropy terms then quantize to 1e-12 BIGINTs so the
# cross-dimension sums are order-independent.
_ISO_Q = 10**4
_ISO_SCALE = 10**12


@register(
    "q_embedding_isotropy",
    f"""
    WITH comp AS (
      SELECT generate_subscripts(embedding, 1) AS d,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {_ISO_Q})
                  AS BIGINT) AS vq
      FROM embeddings),
    mom AS (
      SELECT d, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vq) AS BIGINT) AS s,
             CAST(sum(vq * vq) AS BIGINT) AS ssq
      FROM comp GROUP BY d),
    vars_ AS (
      SELECT d, n,
             CAST(floor((CAST(ssq AS DOUBLE)
                         - CAST(s AS DOUBLE) * s / n) / n
                        / {_ISO_Q * _ISO_Q} * {_ISO_SCALE}) AS BIGINT)
               AS var_q
      FROM mom),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_dims,
             any_value(n) AS n_vecs,
             CAST(sum(var_q) AS BIGINT) AS vt,
             CAST(min(var_q) AS BIGINT) AS var_min_q,
             CAST(max(var_q) AS BIGINT) AS var_max_q
      FROM vars_),
    ent AS (
      SELECT CAST(sum(CASE WHEN var_q > 0 THEN CAST(floor(
               (CAST(var_q AS DOUBLE) / t.vt)
               * ln(CAST(var_q AS DOUBLE) / t.vt) * {_ISO_SCALE})
               AS BIGINT) ELSE 0 END) AS BIGINT) AS hq
      FROM vars_ CROSS JOIN tot t)
    SELECT n_vecs, n_dims,
           round(var_min_q / {float(_ISO_SCALE)!r}, 8) + 0.0 AS var_min,
           round(var_max_q / {float(_ISO_SCALE)!r}, 8) + 0.0 AS var_max,
           CASE WHEN var_max_q > 0
                THEN round(CAST(var_min_q AS DOUBLE) / var_max_q, 6) + 0.0
                END AS var_ratio,
           round(-hq / {float(_ISO_SCALE)!r}, 6) + 0.0 AS entropy,
           round(-hq / {float(_ISO_SCALE)!r} / ln(CAST(n_dims AS DOUBLE)),
                 6) + 0.0 AS isotropy
    FROM tot CROSS JOIN ent
    """,
)
def q_embedding_isotropy(spark, sf_dir):
    """Isotropy of the embedding space: per-dimension variance spread
    (min/max/ratio) and the entropy of the normalized variance
    distribution, scaled by ln(D) to [0, 1] — 1 means every dimension
    carries equal variance, low values mean a few rogue dimensions
    dominate (the anisotropy problem ABTT post-processing fixes; see
    q_abtt_residuals).  See the header note for the two quantization
    layers that keep every cross-row and cross-dimension sum exact.
    Plan: one posexplode + per-dim agg (64 groups), then all frames are
    dimension-sized; two 1-row attaches."""
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        F.posexplode("embedding").alias("p", "v")).select(
        (F.col("p") + 1).alias("d"),
        F.floor(F.col("v").cast("double") * _ISO_Q).cast("long")
        .alias("vq"))
    mom = comp.groupBy("d").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("vq").cast("long").alias("s"),
        F.sum(F.col("vq") * F.col("vq")).cast("long").alias("ssq"),
    )
    var_q = F.floor(
        (F.col("ssq").cast("double")
         - F.col("s").cast("double") * F.col("s") / F.col("n")) / F.col("n")
        / (_ISO_Q * _ISO_Q) * _ISO_SCALE).cast("long")
    vars_ = mom.select("d", "n", var_q.alias("var_q"))
    tot = vars_.agg(
        F.count("*").cast("long").alias("n_dims"),
        F.first("n").alias("n_vecs"),
        F.sum("var_q").cast("long").alias("vt"),
        F.min("var_q").cast("long").alias("var_min_q"),
        F.max("var_q").cast("long").alias("var_max_q"),
    )
    p = F.col("var_q").cast("double") / F.col("vt")
    ent = (
        vars_.crossJoin(F.broadcast(tot.select("vt")))
        .agg(F.sum(F.when(F.col("var_q") > 0,
                          F.floor(p * F.log(p) * _ISO_SCALE).cast("long"))
                   .otherwise(F.lit(0))).cast("long").alias("hq"))
    )
    sc = float(_ISO_SCALE)
    return (
        tot.crossJoin(F.broadcast(ent))
        .select(
            "n_vecs", "n_dims",
            (F.round(F.col("var_min_q") / sc, 8) + F.lit(0.0))
            .alias("var_min"),
            (F.round(F.col("var_max_q") / sc, 8) + F.lit(0.0))
            .alias("var_max"),
            F.when(F.col("var_max_q") > 0,
                   F.round(F.col("var_min_q").cast("double")
                           / F.col("var_max_q"), 6) + F.lit(0.0))
            .alias("var_ratio"),
            (F.round(-F.col("hq") / sc, 6) + F.lit(0.0)).alias("entropy"),
            (F.round(-F.col("hq") / sc
                     / F.log(F.col("n_dims").cast("double")), 6)
             + F.lit(0.0)).alias("isotropy"),
        )
    )


# -- 1-NN label agreement (embedding-quality probe) ---------------------------------
def _nn_label_oracle() -> str:
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS own_label,
             CAST(embedding AS DOUBLE[]) AS qvec
      FROM embeddings WHERE vec_id < {_N_QUERIES}),
    c AS (
      SELECT vec_id AS neighbor_id, label AS nn_label,
             CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings),
    scored AS (
      SELECT q.query_id, q.own_label, c.neighbor_id, c.nn_label,
             round(list_dot_product(q.qvec, c.cvec) /
                   (sqrt(list_dot_product(q.qvec, q.qvec)) *
                    sqrt(list_dot_product(c.cvec, c.cvec))), 4)
               AS cosine_sim
      FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rk
      FROM scored)
    SELECT query_id, CAST(own_label AS BIGINT) AS own_label,
           neighbor_id AS nn_id, CAST(nn_label AS BIGINT) AS nn_label,
           cosine_sim, own_label = nn_label AS agree
    FROM ranked WHERE rk = 1
    """


@register("q_nn_label_agreement", _nn_label_oracle())
def q_nn_label_agreement(spark, sf_dir):
    """1-nearest-neighbor label agreement for the standard 10-vector
    query set: does each query vector's closest OTHER vector carry the
    same label — the cheapest leave-one-out probe of whether the
    embedding space respects the labeling (the precursor to the full
    kNN-classifier eval).  Reuses knn_bruteforce (broadcast query side,
    deterministic rounded-sim/id ranking).  Plan: the documented
    intentional BNLJ against the <=10-row query side + two label
    joins."""
    from nonconsumptive_spark.operators import similarity as sim
    from nonconsumptive_spark.queries.similarity import _N_QUERIES

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    nn = sim.knn_bruteforce(emb, queries, k=1)
    own = emb.select(F.col("vec_id").alias("query_id"),
                     F.col("label").cast("long").alias("own_label"))
    other = emb.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("label").cast("long").alias("nn_label"))
    return (
        nn.join(F.broadcast(own), "query_id")
        .join(other, "neighbor_id")
        .select(
            "query_id", "own_label",
            F.col("neighbor_id").alias("nn_id"), "nn_label",
            "cosine_sim",
            (F.col("own_label") == F.col("nn_label")).alias("agree"),
        )
    )


# -- IVF recall-vs-nprobe tuning curve -----------------------------------------
# per-nprobe recall floors (measured 0.08-0.14 / 0.22-0.44 / 0.46-0.52 / 0.78 at
# sf0.001/sf0.01, floors set below both;
# probe sets are nested, so recall is structurally non-decreasing in
# n_probe up to rounding-tie displacement)
_CURVE_BOUNDS = {1: 0.05, 2: 0.15, 4: 0.4, 8: 0.6}


def _curve_oracle() -> str:
    rows = " UNION ALL ".join(
        f"""SELECT CAST({p} AS BIGINT) AS n_probe,
               CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
               CAST(count(*) AS BIGINT) AS n_exact,
               TRUE AS recall_ok
        FROM ({_DUCK_KNN})"""
        for p in sorted(_CURVE_BOUNDS))
    return rows


@register("q_ann_recall_curve", _curve_oracle())
def q_ann_recall_curve(spark, sf_dir):
    """IVF recall-vs-n_probe tuning curve: one row per probe depth
    (1, 2, 4, 8) with recall against the exact brute-force top-k —
    the table that prices the ANN speed/recall dial before committing a
    production n_probe.  The exact baseline materializes ONCE and feeds
    all four probe levels; each level's recall must clear its measured
    floor (the oracle asserts the flag + DuckDB-recomputed exact-side
    counts, the q_knn_cosine_ivf discipline).  Probe cells are nested
    across levels, so candidate sets are supersets and recall is
    structurally non-decreasing up to rounded-cosine tie displacement.

    r8 perf: probe sets are nested, so cell assignment + candidate
    scoring run ONCE at the deepest probe (sim.ivf_probe_scored keeps
    each candidate's probe_rank) and every level is a filter + top-k
    window over that materialized frame — the old per-level knn_ivf
    calls re-assigned the corpus and re-scored the nested candidates
    4x (A/B warm sf0.1: 3.2 -> 1.3 s; results hash-identical)."""
    from pyspark.sql import Window

    from nonconsumptive_spark.operators import similarity as sim
    from nonconsumptive_spark.plans.checkpoint import materialize_once
    from nonconsumptive_spark.queries.similarity import _K, _N_QUERIES

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    exact = materialize_once(
        sim.knn_bruteforce(emb, queries, k=_K), "curve_exact")
    agg = exact.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.count("*").cast("long").alias("n_exact"),
    )
    small = sim._small_corpus(emb)
    if not small:
        scored = materialize_once(
            sim.ivf_probe_scored(emb, queries, n_centroids=16,
                                 max_probe=max(_CURVE_BOUNDS)),
            "curve_scored",
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id"))
    out = None
    for p, bound in sorted(_CURVE_BOUNDS.items()):
        if small:
            # knn_ivf's sub-MIN_ANN_CORPUS fallback is the exact scan:
            # every level's result IS the baseline frame.
            approx = exact
        else:
            approx = (
                scored.filter(F.col("probe_rank") < p)
                .withColumn("rank", F.row_number().over(w).cast("long"))
                .filter(F.col("rank") <= _K)
            )
        hits = exact.join(
            approx.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"])
        row = (
            agg.crossJoin(F.broadcast(
                hits.agg(F.count("*").cast("long").alias("n_hits"))))
            .select(
                F.lit(p).cast("long").alias("n_probe"),
                "n_queries", "n_exact",
                (F.col("n_hits") / F.col("n_exact") >= bound)
                .alias("recall_ok"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out
