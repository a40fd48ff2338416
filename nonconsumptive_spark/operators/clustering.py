"""Embedding clustering and semantic dedup: k-means + SemDeDup.

The cluster-then-prune curation path for LLM training data (SemDeDup,
Abbas et al. 2023, arXiv:2303.09540): k-means over the embedding column,
then within each cluster drop every vector that is near-duplicate (cosine
above a threshold) of a lower-id member.  The reference engine has no
clustering operator; this is one of the brief's training-data-pipeline
extensions, built in the repo's iterative-replay style (operators/graph.py
PageRank, operators/bpe.py).

Determinism contract — the whole recurrence is cross-engine replayable:

  * vectors are quantized to an integer grid (``round(x * 2^20)`` as
    BIGINT, the same half-up rule as the int8 quantizer in
    operators/similarity.py), so distances and dot products are EXACT
    integers — no float-sum ordering risk between Spark and DuckDB;
  * initial centroids are the ``k`` lowest-id vectors; each Lloyd update
    re-quantizes the mean back onto the grid via ``floor(S/n + 0.5)``
    (one IEEE-double divide of exactly-representable integers — identical
    in Python, Spark and DuckDB for |S| < 2^53, i.e. up to ~2^33 rows per
    cluster at this grid; beyond that, widen the grid or shard the sum);
  * assignment ties break toward the lowest centroid id;
  * the SemDeDup cosine threshold ``tau = num/den`` is evaluated as the
    integer comparison ``den² · dot² ≥ num² · ‖a‖²·‖b‖² AND dot > 0``
    (decimal(38,0) on Spark, HUGEINT in DuckDB) — no sqrt, no rounding.

Distribution shape (the 100 TB story):

  * assignment is a ZERO-shuffle projection: the k×d centroid matrix is a
    constant-folded JSON literal (same trick as the LSH hyperplanes in
    operators/similarity.py), so each iteration scans the quantized
    vectors once and computes argmin per row;
  * the update is one k-group hash aggregate (map-side partial) of d
    per-dimension sums — shuffle volume is k·d longs per partition,
    independent of row count;
  * per-iteration driver traffic is the k×(d+1) summary row set (bounded,
    like the 1-row-per-round collect in operators/bpe.py);
  * SemDeDup's pairwise stage is an equi-join on the cluster id, so its
    cost is Σ|cluster|² — at scale you grow k proportionally to N to keep
    clusters bounded, exactly the SemDeDup paper's regime.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nonconsumptive_spark.functions.text import let
from nonconsumptive_spark.plans.checkpoint import materialize_once

GRID = 1 << 20


def quantize_grid(vec, grid: int = GRID):
    """float array -> BIGINT array on a uniform grid (round-half-up)."""
    col = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * grid + F.lit(0.5)).cast("long")
    )


def _sq_dist(xq, cq):
    """Exact integer squared L2 distance between two BIGINT arrays."""
    return F.aggregate(
        F.zip_with(xq, cq, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _dot(xa, xb):
    """Exact integer dot product of two BIGINT arrays."""
    return F.aggregate(
        F.zip_with(xa, xb, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _assign(q: DataFrame, cents: list[list[int]], id_col: str) -> DataFrame:
    """(id, xq) -> (id, xq, cluster, dist_sq) under the given centroids.

    The centroid matrix rides in as ONE JSON literal so Catalyst constant-
    folds it once per task instead of materializing k·d Literal nodes
    (measured driver-time trap, see operators/similarity.py planes)."""
    cq_mat = F.from_json(F.lit(json.dumps(cents)), "array<array<long>>")
    dists = F.transform(cq_mat, lambda cq: _sq_dist(F.col("xq"), cq))
    best = let(
        dists,
        lambda d: F.struct(
            (F.array_position(d, F.array_min(d)) - 1).alias("cluster"),
            F.array_min(d).alias("dist_sq"),
        ),
    )
    return q.select(id_col, "xq", best.alias("_b")).select(
        id_col, "xq", "_b.cluster", "_b.dist_sq"
    )


def _update(assigned: DataFrame, cents: list[list[int]], dims: int) -> list[list[int]]:
    """One Lloyd step: per-cluster per-dimension integer sums (one hash
    agg, k groups), re-quantized to the grid.  Empty clusters keep their
    previous centroid.  The collect is the bounded k-row summary."""
    sums = assigned.groupBy("cluster").agg(
        F.count("*").alias("n"),
        *[F.sum(F.element_at(F.col("xq"), j + 1)).alias(f"s{j}") for j in range(dims)],
    )
    by_cid = {int(r["cluster"]): r for r in sums.collect()}  # ≤ k rows
    out = []
    for cid, prev in enumerate(cents):
        r = by_cid.get(cid)
        if r is None:
            out.append(prev)
        else:
            n = int(r["n"])
            out.append([math.floor(int(r[f"s{j}"]) / n + 0.5) for j in range(dims)])
    return out


def quantized_vectors(
    emb: DataFrame, grid: int = GRID,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(id, xq): the grid-quantized vector frame, materialized once.
    Callers that run several Lloyd loops over the same corpus (the elbow
    sweep) build this once and pass it via ``q_df`` so each run reads the
    materialized partitions instead of re-quantizing the corpus.

    Session-shared: every clustering-family consumer (kmeans / semdedup
    / silhouette / representatives / elbow / mmr / kcenter) quantizes
    with the same expression, so the frame is built at most once per
    (session, corpus, grid) (policy: plans/ranker_cache.py); an
    un-stampable source still materializes per call."""
    from nonconsumptive_spark.plans.ranker_cache import shared_frame

    def build() -> DataFrame:
        return emb.select(id_col, quantize_grid(vec_col, grid).alias("xq"))

    return shared_frame("km_q", (grid, id_col, vec_col), (emb,), build,
                        materialize_fallback=True)


def _kmeans_core(
    emb: DataFrame,
    k: int,
    n_iter: int,
    grid: int,
    id_col: str,
    vec_col: str,
    q_df: DataFrame | None = None,
):
    """Shared k-means driver: returns (final assignment incl. xq, centroids)."""
    from nonconsumptive_spark.plans.ranker_cache import shared_value

    q = q_df if q_df is not None else quantized_vectors(emb, grid, id_col, vec_col)

    def run_lloyd() -> list[list[int]]:
        first = q.orderBy(id_col).limit(k).collect()  # bounded: k seed rows
        cents = [list(r["xq"]) for r in sorted(first, key=lambda r: r[id_col])]
        dims = len(cents[0])
        for _ in range(n_iter):
            new = _update(_assign(q, cents, id_col), cents, dims)
            if new == cents:
                # Exact integer fixpoint: _update is a deterministic function
                # of (q, cents), so every remaining round would return these
                # same centroids — skipping them is result-identical (the
                # oracle's n_iter-round replay lands on the same fixpoint).
                # Saves one assign+agg job per skipped round.
                break
            cents = new
        return cents

    if q_df is None:
        # The converged centroids are a deterministic pure function of
        # (corpus, k, n_iter, grid): seeds are the k lowest ids, every
        # update is exact integer arithmetic.  Four registry queries run
        # this same loop (assign / semdedup / silhouette / representatives)
        # — share it per session (policy: plans/ranker_cache.py).  An
        # explicit q_df bypasses the cache: the caller owns consistency.
        cents = shared_value(
            "km_cents", (k, n_iter, grid, id_col, vec_col), (emb,), run_lloyd
        )
    else:
        cents = run_lloyd()
    return _assign(q, cents, id_col), cents


def kmeans(
    emb: DataFrame,
    k: int = 10,
    n_iter: int = 4,
    grid: int = GRID,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_df: DataFrame | None = None,
) -> DataFrame:
    """(id, cluster, dist_sq) after ``n_iter`` integer-grid Lloyd rounds.

    ``cluster`` is the 0-based centroid index (BIGINT), ``dist_sq`` the
    exact integer squared distance in grid units.  ``q_df`` optionally
    supplies a pre-materialized quantized frame (see quantized_vectors)."""
    assigned, _ = _kmeans_core(emb, k, n_iter, grid, id_col, vec_col, q_df=q_df)
    return assigned.select(id_col, "cluster", "dist_sq")


def global_centroid(q: DataFrame, dims: int) -> list[int]:
    """Grid-quantized mean of every vector: one d-column aggregate, one
    bounded 1-row collect (the same floor(S/n + 0.5) rule as the Lloyd
    update, so it replays exactly cross-engine)."""
    r = q.agg(
        F.count("*").alias("n"),
        *[F.sum(F.element_at(F.col("xq"), j + 1)).alias(f"s{j}") for j in range(dims)],
    ).collect()[0]
    n = int(r["n"])
    return [math.floor(int(r[f"s{j}"]) / n + 0.5) for j in range(dims)]


def mmr_select(
    emb: DataFrame,
    m: int = 8,
    grid: int = GRID,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance subset selection: greedily pick ``m``
    vectors maximizing ``relevance − redundancy`` (Carbonell & Goldstein
    1998), the diverse-exemplar picker for curation and dedup-aware
    sampling.  Returns (step, id, rel, penalty) in selection order.

    * relevance = ⟨xq, global centroid⟩; redundancy = max dot with the
      already-selected set — both exact integers on the grid, so the
      greedy argmax (score DESC, id ASC tie-break) replays bit-for-bit
      in DuckDB's unrolled-CTE oracle;
    * each of the m rounds is ONE zero-shuffle scan of the materialized
      (id, xq, rel) frame — the selected set rides along as a constant-
      folded literal, like the centroid matrix in ``_assign`` — plus a
      TakeOrdered(1) and a bounded 1-row collect (the BPE round shape);
    * greedy selection is inherently sequential in m.  At 100 TB keep m
      small (exemplar picking), or run this per-cluster after ``kmeans``
      so each group's scan is bounded — the stochastic-greedy variant
      (sample candidates per round) drops in by replacing the scan with
      a ``hash_sample``."""
    spark = emb.sparkSession
    q = quantized_vectors(emb, grid, id_col, vec_col)  # session-shared (r9)
    dims = len(q.select("xq").head()["xq"])
    g = global_centroid(q, dims)
    gj = F.from_json(F.lit(json.dumps(g)), "array<long>")
    rel_df = materialize_once(
        q.select(id_col, "xq", _dot(F.col("xq"), gj).alias("rel")), "mmr_rel"
    )

    picked: list[tuple] = []
    sel_vecs: list[list[int]] = []
    for step in range(1, m + 1):
        if not sel_vecs:
            cand = rel_df.withColumn("penalty", F.lit(0).cast("long"))
        else:
            sel = F.from_json(F.lit(json.dumps(sel_vecs)), "array<array<long>>")
            cand = rel_df.where(
                ~F.col(id_col).isin([p[1] for p in picked])
            ).withColumn(
                "penalty",
                F.array_max(F.transform(sel, lambda s: _dot(F.col("xq"), s))),
            )
        top = (
            cand.orderBy(
                F.desc(F.col("rel") - F.col("penalty")), F.asc(id_col)
            )
            .limit(1)
            .collect()  # bounded: one row per round
        )
        if not top:
            break
        r = top[0]
        picked.append((step, r[id_col], int(r["rel"]), int(r["penalty"])))
        sel_vecs.append(list(r["xq"]))
    return spark.createDataFrame(
        picked, f"step long, {id_col} long, rel long, penalty long"
    )


def semdedup(
    emb: DataFrame,
    k: int = 10,
    n_iter: int = 4,
    tau_num: int = 7,
    tau_den: int = 20,
    grid: int = GRID,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup pruning pass: (id, cluster, pruned).

    ``pruned`` is TRUE iff some lower-id vector in the SAME k-means
    cluster has cosine similarity ≥ tau_num/tau_den — evaluated exactly on
    the quantized grid as ``dot > 0 AND den²·dot² ≥ num²·na·nb`` in
    decimal(38,0) (dot ≤ d·(grid/2)² ≈ 2^45 here, so den²·dot² ≲ 5e29,
    comfortably inside 38 digits)."""
    assigned, _ = _kmeans_core(emb, k, n_iter, grid, id_col, vec_col)
    a = materialize_once(
        assigned.withColumn("nq", _dot(F.col("xq"), F.col("xq"))), "sd_assign"
    )

    left = a.select(
        F.col(id_col).alias("id_a"), "cluster",
        F.col("xq").alias("xa"), F.col("nq").alias("na"),
    )
    right = a.select(
        F.col(id_col).alias("id_b"), "cluster",
        F.col("xq").alias("xb"), F.col("nq").alias("nb"),
    )

    def dec(c):
        return c.cast("decimal(38,0)")

    near = let(
        _dot(F.col("xa"), F.col("xb")),
        lambda d: (d > 0)
        & (
            dec(F.lit(tau_den * tau_den)) * dec(d) * dec(d)
            >= dec(F.lit(tau_num * tau_num)) * dec(F.col("na")) * dec(F.col("nb"))
        ),
    )
    dup_ids = (
        left.join(right, "cluster")  # equi-join on the cluster id
        .where(F.col("id_a") < F.col("id_b"))
        .where(near)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        a.join(dup_ids.withColumn("_p", F.lit(True)), id_col, "left")
        .select(
            id_col, "cluster", F.coalesce("_p", F.lit(False)).alias("pruned")
        )
    )


SIL_SCALE = 1_000_000
"""Per-point silhouette values are quantized to this grid (floor-half-up)
immediately after the single IEEE divide that produces them, so the
per-cluster MEAN is an exact BIGINT sum divided once at output — the same
float-ordering discipline as DSIR_LR_SCALE in operators/textstats.py."""


def silhouette(
    emb: DataFrame,
    k: int = 10,
    n_iter: int = 4,
    grid: int = GRID,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster simplified silhouette over the k-means result:
    (cluster, n, mean_silhouette).

    The simplified (centroid-based) silhouette — a(i) = distance to own
    centroid, b(i) = min distance to any OTHER centroid, s = (b−a)/max(a,b)
    — is the scalable form (Spark MLlib's ClusteringEvaluator uses the same
    family): exact silhouette needs all-pairs distances, this needs one
    zero-shuffle scan against the constant-folded k×d centroid literal plus
    a k-group hash agg.  Distances here are the EXACT integer squared grid
    distances of the Lloyd loop, so a and b carry no float risk; each
    point's s is one deterministic IEEE chain (long→double casts, one
    divide, one multiply by SIL_SCALE, floor) quantized to a BIGINT,
    summed exactly per cluster, divided once at output.

    Degenerate points with a = b = 0 (on top of two coincident centroids)
    score 0 by convention."""
    assigned, cents = _kmeans_core(emb, k, n_iter, grid, id_col, vec_col)
    cq_mat = F.from_json(F.lit(json.dumps(cents)), "array<array<long>>")
    dists = F.transform(cq_mat, lambda cq: _sq_dist(F.col("xq"), cq))

    rows = assigned.select(id_col, "cluster", dists.alias("d"))
    a = F.element_at(F.col("d"), (F.col("cluster") + 1).cast("int"))
    b = F.array_min(
        F.filter(F.col("d"), lambda v, i: i.cast("long") != F.col("cluster"))
    )
    s = let(
        F.struct(a.alias("a"), b.alias("b")),
        lambda ab: F.when(
            F.greatest(ab["a"], ab["b"]) > 0,
            F.floor(
                (ab["b"] - ab["a"]).cast("double")
                / F.greatest(ab["a"], ab["b"]).cast("double")
                * F.lit(float(SIL_SCALE))
                + F.lit(0.5)
            ),
        ).otherwise(F.lit(0).cast("long")),
    )
    return (
        rows.select("cluster", s.alias("s"))
        .groupBy("cluster")
        .agg(F.count("*").alias("n"), F.sum("s").alias("ss"))
        .select(
            F.col("cluster").alias("cluster"),
            F.col("n").alias("n"),
            (
                F.round(
                    F.col("ss").cast("double")
                    / (F.col("n") * F.lit(float(SIL_SCALE))),
                    6,
                )
                + F.lit(0.0)
            ).alias("mean_silhouette"),
        )
    )


def kcenter_select(
    emb: DataFrame,
    m: int = 8,
    grid: int = GRID,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection (Gonzalez 1985):
    pick ``m`` vectors, each round taking the point with the LARGEST
    squared grid distance to its nearest already-selected point — the
    2-approximation for the k-center cover and the classic coverage-first
    data-selection rule (vs MMR's relevance−redundancy).  Returns
    (step, id, mind) in selection order; mind is the exact integer squared
    distance that made the point the farthest (0 for the step-1 seed,
    which is the lowest-id vector).

    Plan shape mirrors ``mmr_select``: each round is ONE zero-shuffle scan
    of the materialized quantized frame with the selected set riding as a
    constant-folded literal, plus TakeOrdered(1) and a bounded 1-row
    collect.  All distances are exact integers, so the greedy argmax
    (mind DESC, id ASC) replays bit-for-bit in the unrolled-CTE oracle."""
    spark = emb.sparkSession
    q = quantized_vectors(emb, grid, id_col, vec_col)  # session-shared (r9)

    picked: list[tuple] = []
    sel_vecs: list[list[int]] = []
    for step in range(1, m + 1):
        if not sel_vecs:
            top = q.orderBy(id_col).limit(1).collect()  # bounded: seed row
            r = top[0]
            picked.append((1, r[id_col], 0))
            sel_vecs.append(list(r["xq"]))
            continue
        sel = F.from_json(F.lit(json.dumps(sel_vecs)), "array<array<long>>")
        cand = q.where(~F.col(id_col).isin([p[1] for p in picked])).withColumn(
            "mind",
            F.array_min(F.transform(sel, lambda s: _sq_dist(F.col("xq"), s))),
        )
        top = (
            cand.orderBy(F.desc("mind"), F.asc(id_col))
            .limit(1)
            .collect()  # bounded: one row per round
        )
        if not top:
            break
        r = top[0]
        picked.append((step, r[id_col], int(r["mind"])))
        sel_vecs.append(list(r["xq"]))
    return spark.createDataFrame(
        picked, f"step long, {id_col} long, mind long"
    )
