"""Clustering / SemDeDup registry entries: k-means assignment, MMR and
k-center selection, SemDeDup pruning, and the cluster-quality readouts
(silhouette, representatives, elbow table).

The k-means oracles replay the ENTIRE integer-grid k-means recurrence as
generated CTEs (one assign + one update block per iteration), the same
full-replay discipline as the BPE and PageRank oracles in queries/text.py.
All interim values are exact integers, so the hash-compare carries no
float-ordering risk; the single double operation per update —
``floor(sum/count + 0.5)`` — is the identical IEEE divide on both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401  (parity with siblings)

from nonconsumptive_spark.operators import clustering as cl
from nonconsumptive_spark.queries import load, register

_K = 10
_ITERS = 4
_GRID = cl.GRID
_TAU = (7, 20)  # cosine threshold 0.35 as an exact rational


def _kmeans_cte(k: int, n_iter: int, grid: int) -> str:
    """WITH-clause body computing a_{n_iter+1}: the final assignment
    (vec_id, xq, cid, dist) under the centroids after n_iter updates."""
    parts = [f"""
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {grid}.0 + 0.5) AS BIGINT)) AS xq
      FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, xq AS cq
      FROM (SELECT vec_id, xq FROM q ORDER BY vec_id LIMIT {k}))"""]
    for i in range(1, n_iter + 2):
        parts.append(f"""
    a{i} AS (
      SELECT vec_id, xq, cid, dist
      FROM (SELECT q.vec_id, q.xq, c.cid,
                   list_sum(list_transform(list_zip(q.xq, c.cq),
                     p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
            FROM q CROSS JOIN c{i - 1} c)
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1)""")
        if i == n_iter + 1:
            break  # final assignment needs no further update
        parts.append(f"""
    s{i} AS (
      SELECT cid, pos,
             CAST(floor(CAST(sum(v) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS cv
      FROM (SELECT cid, generate_subscripts(xq, 1) AS pos, unnest(xq) AS v
            FROM a{i})
      GROUP BY cid, pos),
    c{i} AS (
      SELECT p.cid, coalesce(n.cq, p.cq) AS cq
      FROM c{i - 1} p
      LEFT JOIN (SELECT cid, list(cv ORDER BY pos) AS cq
                 FROM s{i} GROUP BY cid) n USING (cid))""")
    return "WITH" + ",".join(parts)


def _kmeans_oracle(k: int, n_iter: int, grid: int) -> str:
    return (
        _kmeans_cte(k, n_iter, grid)
        + f"""
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster, CAST(dist AS BIGINT) AS dist_sq
    FROM a{n_iter + 1}"""
    )


def _semdedup_oracle(k: int, n_iter: int, grid: int, num: int, den: int) -> str:
    fin = f"a{n_iter + 1}"
    return (
        _kmeans_cte(k, n_iter, grid)
        + f""",
    m AS (
      SELECT vec_id, cid, xq,
             list_sum(list_transform(xq, x -> x * x)) AS nq
      FROM {fin}),
    pr AS (
      SELECT b.vec_id AS ib, a.nq AS na, b.nq AS nb,
             list_sum(list_transform(list_zip(a.xq, b.xq),
               p -> p[1] * p[2])) AS dot
      FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id),
    dup AS (
      SELECT DISTINCT ib AS vec_id FROM pr
      WHERE dot > 0
        AND {den * den} * CAST(dot AS HUGEINT) * dot
            >= {num * num} * CAST(na AS HUGEINT) * nb)
    SELECT m.vec_id, CAST(m.cid AS BIGINT) AS cluster,
           (d.vec_id IS NOT NULL) AS pruned
    FROM m LEFT JOIN dup d USING (vec_id)"""
    )


_MMR_M = 8


def _mmr_oracle(m: int, grid: int) -> str:
    """Unrolled m-round greedy MMR replay: argmax(rel - penalty) with id
    tie-break per round, selected set accumulated across CTEs."""
    parts = [f"""
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {grid}.0 + 0.5) AS BIGINT)) AS xq
      FROM embeddings),
    g AS (
      SELECT list(cv ORDER BY pos) AS cq
      FROM (SELECT pos,
                   CAST(floor(CAST(sum(v) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS cv
            FROM (SELECT generate_subscripts(xq, 1) AS pos, unnest(xq) AS v
                  FROM q)
            GROUP BY pos)),
    r AS MATERIALIZED (
      SELECT q.vec_id, q.xq,
             list_sum(list_transform(list_zip(q.xq, g.cq),
               p -> p[1] * p[2])) AS rel
      FROM q CROSS JOIN g),
    sel1 AS MATERIALIZED (
      SELECT 1 AS step, vec_id, xq, rel, CAST(0 AS BIGINT) AS penalty
      FROM r ORDER BY rel DESC, vec_id LIMIT 1)"""]
    # each sel{t} is referenced twice by level t+1 (join + NOT IN) — without
    # MATERIALIZED DuckDB inlines the chain and the plan grows exponentially
    for t in range(2, m + 1):
        parts.append(f"""
    pick{t} AS MATERIALIZED (
      SELECT {t} AS step, r.vec_id, r.xq, r.rel,
             max(list_sum(list_transform(list_zip(r.xq, s.xq),
               p -> p[1] * p[2]))) AS penalty
      FROM r JOIN sel{t - 1} s ON true
      WHERE r.vec_id NOT IN (SELECT vec_id FROM sel{t - 1})
      GROUP BY r.vec_id, r.xq, r.rel
      ORDER BY r.rel - max(list_sum(list_transform(list_zip(r.xq, s.xq),
               p -> p[1] * p[2]))) DESC, r.vec_id
      LIMIT 1),
    sel{t} AS MATERIALIZED (
      SELECT * FROM sel{t - 1} UNION ALL SELECT * FROM pick{t})""")
    return (
        "WITH" + ",".join(parts)
        + f"""
    SELECT CAST(step AS BIGINT) AS step, vec_id,
           CAST(rel AS BIGINT) AS rel, CAST(penalty AS BIGINT) AS penalty
    FROM sel{m}"""
    )


@register(
    "q_mmr_select",
    oracle=_mmr_oracle(_MMR_M, _GRID),
    doc=f"Maximal-marginal-relevance exemplar selection: {_MMR_M} greedy "
        "rounds of argmax(relevance − max-dot-to-selected) on the integer "
        "grid (Carbonell & Goldstein 1998).  Each round is one zero-"
        "shuffle scan with the selected set as a constant-folded literal "
        "+ TakeOrdered(1); the oracle replays all rounds as unrolled "
        "CTEs.  Greedy selection is inherently sequential in m.",
)
def q_mmr_select(spark, sf_dir):
    return cl.mmr_select(load(spark, sf_dir, "embeddings"), m=_MMR_M)


@register(
    "q_kmeans_assign",
    oracle=_kmeans_oracle(_K, _ITERS, _GRID),
    doc=f"Integer-grid Lloyd k-means (k={_K}, {_ITERS} iterations) over the "
        "embedding column: (vec_id, cluster, dist_sq) with exact-integer "
        "distances.  Assignment is a zero-shuffle scan against a constant-"
        "folded centroid literal; the update is one k-group hash agg of "
        "per-dimension sums — shuffle volume k·d longs regardless of row "
        "count.  The oracle replays every iteration as generated CTEs.",
)
def q_kmeans_assign(spark, sf_dir):
    return cl.kmeans(load(spark, sf_dir, "embeddings"), k=_K, n_iter=_ITERS)


@register(
    "q_semdedup_prune",
    oracle=_semdedup_oracle(_K, _ITERS, _GRID, *_TAU),
    doc="SemDeDup (arXiv:2303.09540): within each k-means cluster, prune "
        f"every vector cosine-similar (≥ {_TAU[0]}/{_TAU[1]}) to a lower-id "
        "member.  The pairwise stage is an equi-join on the cluster id "
        "(cost Σ|cluster|², bounded by growing k with N); the threshold is "
        "an exact integer comparison (decimal(38,0) vs HUGEINT), so the "
        "prune decisions hash-match bit-for-bit.",
)
def q_semdedup_prune(spark, sf_dir):
    return cl.semdedup(
        load(spark, sf_dir, "embeddings"),
        k=_K, n_iter=_ITERS, tau_num=_TAU[0], tau_den=_TAU[1],
    )


# -- simplified silhouette over the k-means result --------------------------
def _silhouette_oracle(k: int, n_iter: int, grid: int, scale: int) -> str:
    fin = f"a{n_iter + 1}"
    return (
        _kmeans_cte(k, n_iter, grid)
        + f""",
    ds AS (
      SELECT a.vec_id, a.cid AS own, c.cid AS ocid,
             list_sum(list_transform(list_zip(a.xq, c.cq),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
      FROM {fin} a CROSS JOIN c{n_iter} c),
    ab AS (
      SELECT vec_id, own AS cid,
             min(CASE WHEN ocid = own THEN d2 END) AS a,
             min(CASE WHEN ocid <> own THEN d2 END) AS b
      FROM ds GROUP BY vec_id, own),
    sq AS (
      SELECT vec_id, cid,
             CASE WHEN greatest(a, b) > 0
                  THEN CAST(floor(CAST(b - a AS DOUBLE)
                                  / CAST(greatest(a, b) AS DOUBLE)
                                  * {scale}.0 + 0.5) AS BIGINT)
                  ELSE 0 END AS s
      FROM ab)
    SELECT CAST(cid AS BIGINT) AS cluster,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(s) AS DOUBLE) / (count(*) * {scale}.0), 6) + 0.0
             AS mean_silhouette
    FROM sq GROUP BY cid"""
    )


@register("q_silhouette", _silhouette_oracle(10, 4, 1 << 20, 1_000_000),
          doc="Mean-distance silhouette over k-means clusters: "
              "within/between sums from cluster-keyed aggregates, never "
              "pairwise across the corpus.")
def q_silhouette(spark, sf_dir):
    from nonconsumptive_spark.operators import clustering as cl

    return cl.silhouette(load(spark, sf_dir, "embeddings"), k=10, n_iter=4)


# -- greedy k-center (farthest-point) coreset -------------------------------
def _kcenter_oracle(m: int, grid: int) -> str:
    parts = [f"""
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {grid}.0 + 0.5) AS BIGINT)) AS xq
      FROM embeddings),
    sel1 AS MATERIALIZED (
      SELECT 1 AS step, vec_id, xq, CAST(0 AS BIGINT) AS mind
      FROM q ORDER BY vec_id LIMIT 1)"""]
    for t in range(2, m + 1):
        parts.append(f"""
    pick{t} AS MATERIALIZED (
      SELECT {t} AS step, q.vec_id, q.xq,
             min(list_sum(list_transform(list_zip(q.xq, s.xq),
               p -> (p[1] - p[2]) * (p[1] - p[2])))) AS mind
      FROM q JOIN sel{t - 1} s ON true
      WHERE q.vec_id NOT IN (SELECT vec_id FROM sel{t - 1})
      GROUP BY q.vec_id, q.xq
      ORDER BY mind DESC, q.vec_id
      LIMIT 1),
    sel{t} AS MATERIALIZED (
      SELECT * FROM sel{t - 1} UNION ALL SELECT * FROM pick{t})""")
    return (
        "WITH" + ",".join(parts)
        + f"""
    SELECT CAST(step AS BIGINT) AS step, CAST(vec_id AS BIGINT) AS vec_id,
           CAST(mind AS BIGINT) AS mind
    FROM sel{m}"""
    )


@register("q_kcenter_select", _kcenter_oracle(8, 1 << 20),
          doc="Greedy k-center (farthest-first) seed selection: "
              "k bounded rounds, one max-distance agg per round.")
def q_kcenter_select(spark, sf_dir):
    from nonconsumptive_spark.operators import clustering as cl

    return cl.kcenter_select(load(spark, sf_dir, "embeddings"), m=8)


# -- cluster representatives (closest-to-centroid) -----------------------------------
def _reps_oracle() -> str:
    fin = f"a{_ITERS + 1}"
    return (
        _kmeans_cte(_K, _ITERS, _GRID)
        + f""",
    best AS (
      SELECT cid, min(dist) AS min_dist FROM {fin} GROUP BY cid),
    reps AS (
      SELECT a.cid, b.min_dist, min(a.vec_id) AS rep_id
      FROM {fin} a JOIN best b ON b.cid = a.cid AND a.dist = b.min_dist
      GROUP BY a.cid, b.min_dist),
    sizes AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members
              FROM {fin} GROUP BY cid)
    SELECT CAST(r.cid AS BIGINT) AS cluster,
           CAST(r.rep_id AS BIGINT) AS rep_id,
           CAST(r.min_dist AS BIGINT) AS dist_sq,
           s.n_members
    FROM reps r JOIN sizes s USING (cid)"""
    )


@register("q_cluster_representatives", _reps_oracle())
def q_cluster_representatives(spark, sf_dir):
    """One representative vector per k-means cluster: the member
    closest to its centroid (exact integer grid distance, min-id
    tie-break) plus the cluster size — the "show me an example of each
    cluster" selector behind dataset cards and cluster labeling (the
    centroid-based stand-in for the O(size^2) medoid).  Plan: the
    shared Lloyd loop, then one cluster agg of min(struct(dist, id)) —
    nothing pairwise."""
    from nonconsumptive_spark.operators import clustering as cl
    from nonconsumptive_spark.queries.clustering import _ITERS, _K

    km = cl.kmeans(load(spark, sf_dir, "embeddings"),
                   k=_K, n_iter=_ITERS)
    return (
        km.groupBy("cluster")
        .agg(F.min(F.struct(F.col("dist_sq"), F.col("vec_id")))
             .alias("b"),
             F.count("*").cast("long").alias("n_members"))
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            F.col("b.vec_id").cast("long").alias("rep_id"),
            F.col("b.dist_sq").cast("long").alias("dist_sq"),
            "n_members",
        )
    )


# -- k-means elbow table -------------------------------------------------------------
_ELBOW_KS = [5, 10, 20]
_ELBOW_ITERS = 4


def _elbow_oracle() -> str:
    parts = []
    for k in _ELBOW_KS:
        inner = (_kmeans_cte(k, _ELBOW_ITERS, _GRID)
                 + f"\n    SELECT dist FROM a{_ELBOW_ITERS + 1}")
        parts.append(f"""
    SELECT CAST({k} AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(dist) AS BIGINT) AS inertia_q
    FROM ({inner})""")
    return (" UNION ALL ".join(parts))


@register("q_kmeans_elbow", _elbow_oracle())
def q_kmeans_elbow(spark, sf_dir):
    """The k-means elbow table: total within-cluster squared grid
    distance (inertia) for a spine of k values — the how-many-clusters
    decision input, each point an independent Lloyd run with the shared
    exact-integer machinery (distances are BIGINTs, so every inertia
    replays bit-for-bit).  Plan: one Lloyd loop per k (zero-shuffle
    assignment scans + k-group update aggs), one 1-row inertia agg
    each; runs are independent and could execute concurrently."""
    from concurrent.futures import ThreadPoolExecutor

    from nonconsumptive_spark.operators import clustering as cl

    emb = load(spark, sf_dir, "embeddings")

    # The three Lloyd runs are independent (each seeds from the same
    # deterministic first-k rows and iterates its own centroids), so
    # they run CONCURRENTLY from driver threads: each run's per-round
    # collect()s overlap the others' scans and wall-clock drops from
    # the sum of runs to roughly the slowest one (12.4 -> ~6s warm at
    # sf0.1).  Results are bit-identical to the sequential loop —
    # threading changes scheduling, never the per-run arithmetic.
    # All three runs read ONE materialized quantized frame (r8: each
    # run used to quantize + checkpoint the corpus separately).
    q_df = cl.quantized_vectors(emb)

    def run(k):
        km = cl.kmeans(emb, k=k, n_iter=_ELBOW_ITERS, q_df=q_df)
        return km.agg(
            F.lit(k).cast("long").alias("k"),
            F.count("*").cast("long").alias("n_vecs"),
            F.sum("dist_sq").cast("long").alias("inertia_q"))

    with ThreadPoolExecutor(max_workers=len(_ELBOW_KS)) as ex:
        frames = list(ex.map(run, _ELBOW_KS))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out
