"""Graph operators over corpus-derived graphs.

PageRank here runs on the token co-occurrence graph (distinct bigrams as
directed edges) — the corpus-analysis flavor of "which tokens sit at the
center of the corpus's phrase structure" (TextRank's underlying recurrence).
The same operator serves any (src, dst) edge frame.

Distribution shape — the standard Spark PageRank iteration, DataFrame-native:
  * out-degrees computed once, joined into the edge list once, both
    materialized — per-iteration work is ONE equi-join (ranks ⋈ edges on
    src) and ONE hash agg (sum contributions by dst), i.e. two shuffles
    keyed on node ids;
  * dangling nodes (no out-edges) keep receiving the teleport term but
    contribute nothing — handled by the LEFT join from the node set;
  * each iteration's rank frame is re-materialized (materialize_once) so
    iteration k never replays 1..k-1 — the same lineage-cut discipline as
    connected components (operators/dedup.py) and BPE (operators/bpe.py).

Convergence is fixed-iteration (k) rather than delta-threshold so the
result is deterministic and oracle-replayable round for round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nonconsumptive_spark.functions.text import ngram_structs, tokenize
from nonconsumptive_spark.plans.checkpoint import materialize_once


def bigram_edges(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct directed token-adjacency edges (src, dst) over the corpus.

    13 graph registry queries (pagerank/HITS/BFS/k-core/k-truss/CC/
    harmonic/adamic-adar/link-prediction/...) derive from this same
    edge list, a deterministic pure function of the corpus, built at
    most once per session (policy: plans/ranker_cache.py) — each
    consumer reads the checkpoint instead of paying tokenize + explode
    + distinct again."""
    from nonconsumptive_spark.plans.ranker_cache import shared_frame

    def build() -> DataFrame:
        grams = ngram_structs(tokenize(text_col), 2)
        return (
            docs.select(F.explode(grams).alias("g"))
            .select(F.col("g.w0").alias("src"), F.col("g.w1").alias("dst"))
            .distinct()
        )

    return shared_frame("bigram_edges", (text_col,), (docs,), build)


def pagerank(edges: DataFrame, n_iter: int = 10,
             damping: float = 0.85) -> DataFrame:
    """(node, rank) after ``n_iter`` synchronous PageRank iterations with
    uniform teleport; ranks rounded to 6 decimals at OUTPUT only (interim
    values stay full-precision so engines replaying the same recurrence
    agree)."""
    nodes = materialize_once(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct(),
        "pr_nodes",
    )
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    # one edges⋈degree join, reused by every iteration
    ed = materialize_once(edges.join(out_deg, "src"), "pr_edges")

    n = nodes.count()  # scalar, bounded: the node-count of the graph
    ranks = materialize_once(
        nodes.select("node", F.lit(1.0 / n).alias("rank")), "pr_init"
    )
    for i in range(n_iter):
        contrib = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select(F.col("dst").alias("node"),
                    (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = materialize_once(
            nodes.join(contrib, "node", "left").select(
                "node",
                (F.lit((1.0 - damping) / n)
                 + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))).alias("rank"),
            ),
            f"pr_iter_{i}",
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """One row (n_nodes, n_edges, n_triangles) over the UNDIRECTED graph
    underlying a directed edge list — the clustering-structure census
    (used on co-occurrence graphs to gauge topical cohesion).

    Scale shape: the standard degree-ordered orientation — each undirected
    edge points from its lower-(degree, node) endpoint to the higher one,
    so every wedge join fans out by a node's ORIENTED out-degree, which is
    O(sqrt(m)) for any graph (arboricity bound) instead of the raw degree
    of hub nodes.  Two equi-joins on node keys; the edge list materializes
    once and feeds all three plan references."""
    und = materialize_once(
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        ).filter(F.col("u") != F.col("v")).distinct(),
        "tri_edges",
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node").agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ranked = und.join(du, "u").join(dv, "v")
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    oriented = materialize_once(
        ranked.select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
        ),
        "tri_oriented",
    )
    e1 = oriented.select(F.col("a"), F.col("b"))
    e2 = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = oriented.select(F.col("a"), F.col("b").alias("c"))
    wedges = e1.join(e2, "b")
    tris = wedges.join(e3, ["a", "c"])
    return (
        und.agg(F.count("*").alias("n_edges"))
        .crossJoin(deg.agg(F.count("*").alias("n_nodes")))
        .crossJoin(tris.agg(F.count("*").alias("n_triangles")))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
        )
    )


def bfs_distances(edges: DataFrame, source: str, max_iter: int = 10,
                  directed: bool = True) -> DataFrame:
    """(node, dist) — shortest hop count from ``source`` to every node
    reachable within ``max_iter`` hops (unweighted BFS).

    Distribution shape: synchronous frontier expansion — per round ONE
    equi-join (frontier ⋈ edges on src) and ONE anti-join against the
    visited set, both keyed on node ids; the frontier frame is
    re-materialized every round (the lineage-cut discipline shared with
    pagerank / connected components / BPE), so round k never replays
    rounds 1..k-1.  The visited set grows monotonically and is the only
    state; nothing is ever collected to the driver.  Fixed ``max_iter``
    keeps the result deterministic and oracle-replayable (DuckDB WITH
    RECURSIVE with the same bound).
    """
    if not directed:
        edges = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    edges = materialize_once(edges.select("src", "dst").distinct(), "bfs_edges")

    visited = materialize_once(
        edges.sparkSession.createDataFrame([(source, 0)], "node string, dist int"),
        "bfs_v0",
    )
    frontier = visited
    for it in range(1, max_iter + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(it).alias("dist"))
        )
        nxt = materialize_once(nxt, f"bfs_f{it}")
        if nxt.isEmpty():
            break
        visited = materialize_once(
            visited.unionByName(nxt), f"bfs_v{it}"
        )
        frontier = nxt
    return visited.select("node", F.col("dist").cast("long").alias("dist"))


def label_propagation(edges: DataFrame, n_iter: int = 4) -> DataFrame:
    """(node, label) after ``n_iter`` SYNCHRONOUS label-propagation
    rounds over the undirected graph beneath a directed edge list —
    community detection at graph scale (Raghavan et al. 2007), the
    near-linear-time alternative to modularity optimizers.

    Determinism (the property the oracle gate needs): updates are
    synchronous (every node votes on the PREVIOUS round's labels), the
    vote is the neighbor-label mode, and ties break on the MINIMUM
    label — no randomness, so both engines replay identical rounds.
    Fixed iteration count rather than convergence detection, same as
    pagerank (synchronous LPA can oscillate; a fixed-K replay is exact
    regardless).

    Scale shape: per round ONE equi-join (labels ⋈ edges on the
    neighbor key), ONE (node, label) count agg, and ONE per-node window
    (PARTITIONED by node — never global); the label frame re-materializes
    every round (the shared lineage-cut discipline).  Labels are node
    ids, so state is one string per node regardless of round."""
    und = materialize_once(
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        "lpa_edges",
    )
    nodes = materialize_once(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct(),
        "lpa_nodes",
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for i in range(n_iter):
        votes = (
            und.join(labels.withColumnRenamed("node", "dst"), "dst")
            .select(F.col("src").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count("*").alias("cnt"))
        )
        # mode with min-label tie-break as ONE order-free aggregate:
        # min(struct(-cnt, label)) compares fieldwise (= cnt desc, then
        # label asc), exactly the old row_number window's ranking — but
        # with map-side partial aggregation and no per-node sort
        # (r8, guide §2.3 "aggregate before you shuffle")
        winner = (
            votes.groupBy("node")
            .agg(F.min(F.struct((-F.col("cnt")).alias("_nc"),
                                F.col("label").alias("label")))
                 .alias("_w"))
            .select("node", F.col("_w.label").alias("new_label"))
        )
        stamped = materialize_once(
            labels.join(winner, "node", "left").select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
                (F.col("new_label").isNotNull()
                 & (F.col("new_label") != F.col("label")))
                .cast("int").alias("_chg"),
            ),
            f"lpa_iter_{i}",
        )
        labels = stamped.drop("_chg")
        if i + 1 < n_iter:
            # Exact fixpoint witness (r8): synchronous LPA is a
            # deterministic function of the previous labels, so a round
            # that changes ZERO labels proves every remaining round is a
            # no-op — skipping them is result-identical to the oracle's
            # fixed-K replay.  The witness is a 1-row sum over the frame
            # this round materializes anyway (sf0.1 converges at round 3
            # of 4; at scale LPA typically converges well before fixed K).
            if not (stamped.agg(F.sum("_chg")).first()[0] or 0):
                break
    return labels


HITS_SCALE = 10**6
HITS_ITERS = 3


def hits_scores(edges: DataFrame, n_iter: int = HITS_ITERS) -> DataFrame:
    """(node, hub, authority) after ``n_iter`` alternating HITS rounds
    (Kleinberg 1999) over a directed edge list — hubs point at good
    authorities, authorities are pointed at by good hubs: the OTHER
    classic link-analysis pair next to PageRank (on the token-adjacency
    graph: words that introduce key terms vs the key terms themselves).

    Exactness discipline: scores are MAX-normalized each half-round (the
    max of BIGINTs is order-free, unlike an L2 norm's cross-row float
    sum), and every neighbor sum accumulates ``floor(SCALE * score)``
    BIGINTs — so both engines replay identical rounds and the 6-decimal
    output rounding is safe.  HITS converges under any norm; fixed
    iteration count, same policy as pagerank/label_propagation.

    Scale shape: per half-round ONE equi-join (scores ⋈ edges) and ONE
    hash agg keyed on node ids, plus a 1-row max attach; the score frame
    re-materializes per round (lineage-cut discipline)."""
    ed = materialize_once(
        edges.select("src", "dst").distinct(), "hits_edges")
    nodes = materialize_once(
        ed.select(F.col("src").alias("node"))
        .union(ed.select(F.col("dst").alias("node")))
        .distinct(),
        "hits_nodes",
    )
    hub = nodes.select("node", F.lit(1.0).alias("s"))

    def _half(scores: DataFrame, edge_key: str, out_key: str, tag: str):
        """sum floor(SCALE*s) over the ``edge_key`` endpoint, group by
        the ``out_key`` endpoint, max-normalize."""
        q = scores.select(
            F.col("node").alias(edge_key),
            F.floor(F.lit(float(HITS_SCALE)) * F.col("s"))
            .cast("long").alias("q"),
        )
        raw = (
            ed.join(q, edge_key)
            .groupBy(F.col(out_key).alias("node"))
            .agg(F.sum("q").cast("long").alias("raw"))
        )
        full = nodes.join(raw, "node", "left").select(
            "node", F.coalesce("raw", F.lit(0)).cast("long").alias("raw"))
        mx = full.agg(F.max("raw").alias("mx"))
        return materialize_once(
            full.crossJoin(F.broadcast(mx)).select(
                "node",
                (F.col("raw").cast("double") / F.col("mx")).alias("s"),
            ),
            tag,
        )

    auth = None
    for i in range(n_iter):
        auth = _half(hub, "src", "dst", f"hits_a{i}")
        hub = _half(auth, "dst", "src", f"hits_h{i}")
    return (
        hub.select("node", F.col("s").alias("hub"))
        .join(auth.select("node", F.col("s").alias("authority")), "node")
        .select(
            "node",
            (F.round("hub", 6) + F.lit(0.0)).alias("hub"),
            (F.round("authority", 6) + F.lit(0.0)).alias("authority"),
        )
    )


def kcore(edges: DataFrame, k: int = 3, n_rounds: int = 12) -> DataFrame:
    """(node, core_deg) — the nodes surviving ``n_rounds`` of synchronous
    k-core peeling over the UNDIRECTED graph beneath a directed edge list
    (Seidman 1983): repeatedly drop every node whose degree in the current
    subgraph is < k.  The k-core is the classic dense-substructure filter
    (on the token graph: the stable phrase vocabulary; on an interaction
    graph: the engaged user core).

    Determinism: peeling is confluent — the k-core is unique regardless of
    removal order — but a FIXED round count keeps the intermediate state
    replayable in the DuckDB oracle (an unrolled CTE chain with the same
    ``n_rounds``); components this size converge in far fewer rounds, and
    the final round's degrees are emitted so a non-converged run would
    visibly disagree.

    Scale shape: per round ONE degree agg (keyed on node) and TWO
    semi-joins filtering the edge list on surviving endpoints — all
    shuffles keyed on node ids, no wide rows; the edge frame re-
    materializes per round (lineage-cut discipline shared with pagerank /
    bfs / label_propagation).  No driver collect."""
    und = materialize_once(
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        "kcore_edges",
    )
    # early exit on the edge-count fixpoint: peeling only REMOVES edges,
    # so an unchanged count proves an unchanged subgraph, and peeling is
    # confluent/idempotent — the oracle's full unrolled ``n_rounds`` CTE
    # chain no-ops past convergence, so both engines emit the same core
    # while the engine skips the dead rounds.
    prev = und.count()
    for r in range(n_rounds):
        deg = und.groupBy("src").agg(F.count("*").alias("deg"))
        alive = deg.filter(F.col("deg") >= k).select("src")
        und = materialize_once(
            und.join(alive, "src", "left_semi")
            .join(alive.withColumnRenamed("src", "dst"), "dst", "left_semi"),
            f"kcore_e{r}",
        )
        cur = und.count()
        if cur == prev:
            break
        prev = cur
    return (
        und.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("long").alias("core_deg"))
        .filter(F.col("core_deg") >= k)
    )


AA_MAX_MIDDLE_DEG = 50
AA_SCALE = 10**6


def adamic_adar(edges: DataFrame, max_middle_deg: int = AA_MAX_MIDDLE_DEG,
                min_common: int = 2) -> DataFrame:
    """(node_a, node_b, common_neighbors, aa_score) — Adamic–Adar link
    prediction over the UNDIRECTED graph beneath a directed edge list:
    for every non-adjacent pair sharing >= ``min_common`` neighbors,
    aa = Σ_{m in common} 1 / ln(deg(m)) — rare shared neighbors count
    more (Adamic & Adar 2003).

    Exactness: 1/ln(d) is NOT reproducible across engines at the last ulp
    (libm vs java.lang.Math), so middle-node weights come from a LITERAL
    table computed once in Python — round(AA_SCALE/ln(d)) for d in
    [2, max_middle_deg] — joined identically on both engines; scores sum
    as exact BIGINTs and divide by AA_SCALE once at output.

    Scale shape: wedges are generated by a self-join keyed on the MIDDLE
    node, whose fan-out is bounded by ``max_middle_deg`` (the standard
    skew guard for wedge enumeration — a celebrity node with degree 10^6
    would otherwise emit 10^12 wedges; AA weights 1/ln(d) also vanish for
    such hubs, so dropping them changes scores negligibly and is
    mirrored exactly in the oracle).  Per-pair work: one groupBy on the
    (a, b) pair key + one anti-join against the edge list."""
    import math

    und = materialize_once(
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        "aa_edges",
    )
    spark = edges.sparkSession
    wt = F.broadcast(spark.createDataFrame(
        [(d, int(round(AA_SCALE / math.log(d)))) for d in
         range(2, max_middle_deg + 1)],
        "deg long, w long",
    ))
    deg = und.groupBy(F.col("src").alias("mid")).agg(
        F.count("*").cast("long").alias("deg"))
    mids = (
        deg.filter((F.col("deg") >= 2) & (F.col("deg") <= max_middle_deg))
        .join(wt, "deg")
        .select("mid", "w")
    )
    adj = materialize_once(
        und.join(mids, und["src"] == mids["mid"])
        .select("mid", F.col("dst").alias("leaf"), "w"),
        "aa_adj",
    )
    a = adj.select("mid", F.col("leaf").alias("node_a"), "w")
    b = adj.select("mid", F.col("leaf").alias("node_b"))
    pairs = (
        a.join(b, "mid")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count("*").cast("long").alias("common_neighbors"),
             F.sum("w").cast("long").alias("ws"))
        .filter(F.col("common_neighbors") >= min_common)
    )
    linked = und.select(F.col("src").alias("node_a"),
                        F.col("dst").alias("node_b"))
    return (
        pairs.join(linked, ["node_a", "node_b"], "left_anti")
        .select(
            "node_a", "node_b", "common_neighbors",
            (F.round(F.col("ws").cast("double") / AA_SCALE, 6)
             + F.lit(0.0)).alias("aa_score"),
        )
    )


PPR_DAMPING = 0.85
PPR_SCALE = 10**9


def personalized_pagerank(edges: DataFrame, seeds: list[str],
                          n_iter: int = 6,
                          damping: float = PPR_DAMPING) -> DataFrame:
    """(node, rank) after ``n_iter`` synchronous personalized-PageRank
    rounds: the teleport mass returns to the ``seeds`` set instead of
    spreading uniformly (Haveliwala 2002) — the "what's near THESE
    tokens/documents" primitive behind graph-based recommendation and
    seed-expanded vocabulary mining.

    Exactness (unlike the plain q_token_pagerank float recurrence, this
    uses the HITS integer discipline): each round quantizes ranks to
    floor(rank * PPR_SCALE) BIGINTs, splits them by integer out-degree
    division, and sums BIGINTs — so rounds replay identically in the
    oracle under any aggregation order; the teleport constant
    (1-d)/|seeds| is a Python literal shared with the oracle.

    Scale shape: identical to pagerank — per round ONE ranks⋈edges
    equi-join + ONE dst-keyed agg, lineage cut per round."""
    ed = materialize_once(
        edges.select("src", "dst").distinct(), "ppr_edges")
    out_deg = ed.groupBy("src").agg(F.count("*").alias("out_deg"))
    edo = materialize_once(ed.join(out_deg, "src"), "ppr_edges_deg")
    nodes = materialize_once(
        ed.select(F.col("src").alias("node"))
        .union(ed.select(F.col("dst").alias("node")))
        .distinct(),
        "ppr_nodes",
    )
    teleport = repr((1.0 - damping) / len(seeds))
    restart = F.when(
        F.col("node").isin(list(seeds)), F.expr(f"CAST({teleport} AS DOUBLE)")
    ).otherwise(F.lit(0.0))
    ranks = nodes.select("node", restart.alias("rank"))
    for i in range(n_iter):
        q = ranks.select(
            "node",
            F.floor(F.col("rank") * PPR_SCALE).cast("long").alias("q"),
        )
        contrib = (
            edo.join(q.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                # q < 2^53, so the double division is exact before floor
                F.floor(F.col("q").cast("double") / F.col("out_deg"))
                .cast("long").alias("share"),
            )
            .groupBy("node")
            .agg(F.sum("share").cast("long").alias("sq"))
        )
        ranks = materialize_once(
            nodes.join(contrib, "node", "left").select(
                "node",
                (restart
                 + F.lit(damping)
                 * (F.coalesce("sq", F.lit(0)).cast("double") / PPR_SCALE))
                .alias("rank"),
            ),
            f"ppr_r{i}",
        )
    return ranks.select(
        "node", (F.round("rank", 9) + F.lit(0.0)).alias("rank")
    ).filter(F.col("rank") > 0.0)


CC_MAX_DEG = 50


def clustering_coefficient(edges: DataFrame,
                           max_deg: int = CC_MAX_DEG) -> DataFrame:
    """(node, deg, triangles, cc) — local clustering coefficient over the
    UNDIRECTED graph beneath a directed edge list: cc_v = 2 T_v /
    (deg_v (deg_v - 1)), the per-node companion to the global
    q_token_triangles count ("how clique-like is this node's
    neighborhood").

    Every triangle {a, v, c} appears exactly once as a closed wedge with
    middle v (pairs ordered a < c), so T_v is ONE wedge self-join keyed
    on the middle node + ONE semi-join against the edge list + ONE count
    — the adamic_adar machinery pointed at closure instead of openness.
    The same ``max_deg`` cap guards wedge skew (a 10^6-degree hub emits
    10^12 wedges); capped-out nodes are EXCLUDED, mirrored in the
    oracle.  cc is exact integers until one division."""
    und = materialize_once(
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        "cc_edges",
    )
    deg = und.groupBy(F.col("src").alias("mid")).agg(
        F.count("*").cast("long").alias("deg"))
    mids = deg.filter((F.col("deg") >= 2) & (F.col("deg") <= max_deg))
    adj = materialize_once(
        und.join(mids, und["src"] == mids["mid"])
        .select("mid", F.col("dst").alias("leaf"), "deg"),
        "cc_adj",
    )
    a = adj.select("mid", "deg", F.col("leaf").alias("na"))
    b = adj.select("mid", F.col("leaf").alias("nb"))
    closed = (
        a.join(b, "mid")
        .filter(F.col("na") < F.col("nb"))
        .join(und.select(F.col("src").alias("na"),
                         F.col("dst").alias("nb")),
              ["na", "nb"], "left_semi")
        .groupBy("mid", "deg")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    return (
        mids.join(closed, ["mid", "deg"], "left")
        .select(
            F.col("mid").alias("node"), "deg",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            (F.round(
                (F.lit(2) * F.coalesce("triangles", F.lit(0))).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)), 6) + F.lit(0.0))
            .alias("cc"),
        )
    )


MOD_SCALE = 10**12


def modularity(edges: DataFrame, n_iter: int = 4) -> DataFrame:
    """Newman modularity of the label-propagation partition over the
    undirected graph beneath ``edges``: per community c,
    Q_c = in_c/M2 - (d_c/M2)^2 with M2 = 2m (the symmetric edge count),
    in_c = symmetric within-community edge count, d_c = total degree —
    the standard how-good-are-these-communities score for the LPA result.

    Cross-engine exactness: in_c, d_c, M2 are BIGINT counts; each Q_c is
    two divisions + one square + one subtract (a fixed IEEE chain), and
    the GLOBAL modularity sums floor(Q_c * 1e12) BIGINTs so it is
    aggregation-order independent (the HITS/PPR quantization discipline).

    Scale shape: label_propagation's per-round join+agg, then ONE degree
    agg, ONE two-sided label join over the symmetric edge list (both
    sides keyed on node), two label-keyed aggs, and a 1-row M2/global
    attach.  Nothing is ever pairwise in communities or nodes."""
    und = materialize_once(
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        "mod_edges",
    )
    labels = materialize_once(
        label_propagation(edges, n_iter=n_iter), "mod_labels")
    m2 = und.agg(F.count("*").cast("long").alias("m2"))
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("deg"))
    lab = (
        labels.join(deg, "node", "left")
        .select("node", "label",
                F.coalesce("deg", F.lit(0)).cast("long").alias("deg"))
    )
    grp = lab.groupBy("label").agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum("deg").cast("long").alias("deg_sum"),
    )
    la = labels.select(F.col("node").alias("src"),
                       F.col("label").alias("label_a"))
    lb = labels.select(F.col("node").alias("dst"),
                       F.col("label").alias("label_b"))
    inn = (
        und.join(la, "src").join(lb, "dst")
        .filter(F.col("label_a") == F.col("label_b"))
        .groupBy(F.col("label_a").alias("label"))
        .agg(F.count("*").cast("long").alias("in2"))
    )
    per = (
        grp.join(inn, "label", "left")
        .withColumn("in2", F.coalesce("in2", F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(m2))
    )
    contrib = (F.col("in2").cast("double") / F.col("m2")
               - (F.col("deg_sum").cast("double") / F.col("m2"))
               * (F.col("deg_sum").cast("double") / F.col("m2")))
    per = per.withColumn(
        "cq", F.when(F.col("m2") > 0,
                     F.floor(contrib * MOD_SCALE).cast("long"))
        .otherwise(F.lit(0)))
    glob = per.agg(F.sum("cq").cast("long").alias("gq"))
    return (
        per.crossJoin(F.broadcast(glob))
        .select(
            "label", "n_nodes", "in2", "deg_sum",
            (F.round(F.col("cq") / F.lit(float(MOD_SCALE)), 9)
             + F.lit(0.0)).alias("q_contrib"),
            (F.round(F.col("gq") / F.lit(float(MOD_SCALE)), 6)
             + F.lit(0.0)).alias("modularity"),
        )
    )


def ktruss(edges: DataFrame, k: int = 4, n_rounds: int = 3) -> DataFrame:
    """(src, dst, support, converged) — the edges surviving ``n_rounds``
    of synchronous k-truss peeling over the undirected graph (Cohen
    2008): repeatedly drop every edge lying in fewer than k-2 triangles
    of the CURRENT subgraph.  The truss is the edge-level tightening of
    the k-core (every k-truss edge joins nodes of a (k-1)-core) — on the
    token graph it isolates the cohesive phrase clusters that survive
    even after weak co-occurrences peel away.

    Determinism: truss peeling is confluent (the maximal k-truss is
    unique), and the FIXED round count keeps intermediate state
    replayable by the oracle's unrolled CTE chain.  ``converged`` is a
    table-constant flag: TRUE iff one more peeling round would drop no
    edge (every surviving edge has support >= k-2 in the final
    subgraph), so a non-fixpoint result — a SUPERSET of the true
    k-truss — is detectable programmatically, not only by inspecting
    the emitted support column.

    Scale shape: per round one adjacency union + ONE wedge equi-join
    keyed on the common-neighbor node + one edge-keyed count agg + one
    filter — the same middle-node join discipline as
    clustering_coefficient (add the degree cap there if token-graph
    hubs skew; here the edge frame re-materializes per round so no
    round replays prior lineage)."""
    canon = materialize_once(
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        "truss_edges",
    )

    def support(frame: DataFrame) -> DataFrame:
        adj = frame.select(F.col("a").alias("node"), F.col("b").alias("nbr")) \
            .union(frame.select(F.col("b").alias("node"),
                                F.col("a").alias("nbr")))
        xa = adj.select(F.col("nbr").alias("m"), F.col("node").alias("a"))
        xb = adj.select(F.col("nbr").alias("m"), F.col("node").alias("b"))
        wedge = xa.join(xb, "m").filter(F.col("a") < F.col("b"))
        return (
            wedge.join(frame, ["a", "b"], "left_semi")
            .groupBy("a", "b")
            .agg(F.count("*").cast("long").alias("support"))
        )

    for r in range(n_rounds):
        sup = support(canon)
        canon = materialize_once(
            canon.join(sup, ["a", "b"], "left")
            .filter(F.coalesce("support", F.lit(0)) >= k - 2)
            .select("a", "b"),
            f"truss_e{r}",
        )
    final = support(canon)
    scored = materialize_once(
        canon.join(final, ["a", "b"], "left")
        .select("a", "b",
                F.coalesce("support", F.lit(0)).cast("long")
                .alias("support")),
        "truss_final",
    )
    # converged <=> a further round is a no-op: min over the (tiny)
    # surviving edge set of (support >= k-2), TRUE on an empty truss.
    conv = scored.agg(
        F.coalesce(F.min((F.col("support") >= k - 2).cast("int")),
                   F.lit(1)).alias("c"))
    return (
        scored.crossJoin(F.broadcast(conv))  # 1-row aggregate attach
        .select(F.col("a").alias("src"), F.col("b").alias("dst"),
                "support", (F.col("c") == 1).alias("converged"))
    )


RA_SCALE = 10**6


def link_prediction_panel(edges: DataFrame,
                          max_middle_deg: int = AA_MAX_MIDDLE_DEG,
                          min_common: int = 2) -> DataFrame:
    """(node_a, node_b, common_neighbors, ra_score, jaccard) — the two
    classic link-prediction scores adamic_adar leaves out, on the same
    candidate discipline: common-neighbor count, the Resource-Allocation
    index sum 1/deg(m) (Zhou et al. 2009 — the empirically strongest
    simple predictor), and the degree-capped-wedge Jaccard variant:
    the numerator counts only common neighbors reachable through middles
    with deg in [2, max_middle_deg] (the adamic_adar candidate
    discipline) while the denominator uses full degrees, so it
    UNDERESTIMATES the exact |N_a ∩ N_b| / |N_a ∪ N_b| for pairs
    sharing high-degree neighbors — the deliberate scale trade: hub
    middles generate O(deg^2) wedges and carry near-zero predictive
    signal.

    Exactness: RA weights floor(RA_SCALE/deg) are ONE float division
    over exact integers per middle node, summed as BIGINTs; Jaccard is
    cn / (deg_a + deg_b - cn), a single division over exact degrees.

    Scale shape identical to adamic_adar: wedge self-join keyed on the
    middle node with fan-out capped at ``max_middle_deg`` (mirrored in
    the oracle), pair-key groupBy, broadcast degree attaches, anti-join
    against the edge list."""
    und = materialize_once(
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        "lp_edges",
    )
    deg = materialize_once(
        und.groupBy(F.col("src").alias("mid")).agg(
            F.count("*").cast("long").alias("deg")),
        "lp_deg",
    )  # feeds the middle filter AND the two leaf attaches
    mids = (
        deg.filter((F.col("deg") >= 2) & (F.col("deg") <= max_middle_deg))
        .select("mid",
                F.floor(F.lit(float(RA_SCALE)) / F.col("deg"))
                .cast("long").alias("w"))
    )
    adj = materialize_once(
        und.join(mids, und["src"] == mids["mid"])
        .select("mid", F.col("dst").alias("leaf"), "w"),
        "lp_adj",
    )
    a = adj.select("mid", F.col("leaf").alias("node_a"), "w")
    b = adj.select("mid", F.col("leaf").alias("node_b"))
    pairs = (
        a.join(b, "mid")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count("*").cast("long").alias("common_neighbors"),
             F.sum("w").cast("long").alias("ws"))
        .filter(F.col("common_neighbors") >= min_common)
    )
    linked = und.select(F.col("src").alias("node_a"),
                        F.col("dst").alias("node_b"))
    da = deg.select(F.col("mid").alias("node_a"),
                    F.col("deg").alias("deg_a"))
    db = deg.select(F.col("mid").alias("node_b"),
                    F.col("deg").alias("deg_b"))
    return (
        pairs.join(linked, ["node_a", "node_b"], "left_anti")
        .join(F.broadcast(da), "node_a")
        .join(F.broadcast(db), "node_b")
        .select(
            "node_a", "node_b", "common_neighbors",
            (F.round(F.col("ws").cast("double") / RA_SCALE, 6)
             + F.lit(0.0)).alias("ra_score"),
            (F.round(F.col("common_neighbors").cast("double")
                     / (F.col("deg_a") + F.col("deg_b")
                        - F.col("common_neighbors")), 6)
             + F.lit(0.0)).alias("jaccard"),
        )
    )


HC_SEEDS = 5
HC_MAX_DIST = 4
HC_SCALE = 10**9


def harmonic_centrality(edges: DataFrame, n_seeds: int = HC_SEEDS,
                        max_dist: int = HC_MAX_DIST) -> DataFrame:
    """(seed, deg, n_reached, harm_q, harmonic) — truncated harmonic
    centrality sum_{v != s, d(s,v) <= max_dist} 1/d(s,v) for the
    ``n_seeds`` highest-degree nodes of the UNDIRECTED graph — the
    centrality that stays well-defined on disconnected graphs (where
    closeness breaks), hop-bounded so both engines replay it exactly.

    Exactness: distances are small integers, so each contribution
    floor(HC_SCALE/d) is exact and the per-seed sum is a BIGINT.

    Scale shape: ONE multi-source BFS — the frontier frame carries a
    seed column, so all seeds expand in the same per-round equi-join +
    (seed, node)-keyed anti-join with a lineage cut per round (the
    bfs_distances discipline); rounds are bounded by ``max_dist``, and
    the visited set is at most n_seeds x |V|."""
    from pyspark.sql import Window

    und = materialize_once(
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        "hc_edges",
    )
    deg = und.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    w = Window.orderBy(F.desc("deg"), F.asc("src"))
    seeds = materialize_once(
        deg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_seeds)
        .select(F.col("src").alias("seed"), "deg"),
        "hc_seeds",
    )
    visited = materialize_once(
        seeds.select("seed", F.col("seed").alias("node"),
                     F.lit(0).alias("dist")),
        "hc_v0",
    )
    frontier = visited
    for it in range(1, max_dist + 1):
        nxt = (
            frontier.join(und, frontier["node"] == und["src"])
            .select("seed", F.col("dst").alias("node"))
            .distinct()
            .join(visited, ["seed", "node"], "left_anti")
            .select("seed", "node", F.lit(it).alias("dist"))
        )
        nxt = materialize_once(nxt, f"hc_f{it}")
        if nxt.isEmpty():
            break
        visited = materialize_once(visited.unionByName(nxt), f"hc_v{it}")
        frontier = nxt
    harm = (
        visited.filter(F.col("dist") > 0)
        .groupBy("seed")
        .agg(
            F.count("*").cast("long").alias("n_reached"),
            F.sum(F.floor(F.lit(float(HC_SCALE)) / F.col("dist"))
                  .cast("long")).cast("long").alias("harm_q"),
        )
    )
    return (
        seeds.join(harm, "seed", "left")
        .select(
            "seed", "deg",
            F.coalesce("n_reached", F.lit(0)).cast("long")
            .alias("n_reached"),
            F.coalesce("harm_q", F.lit(0)).cast("long").alias("harm_q"),
            (F.round(F.coalesce("harm_q", F.lit(0))
                     / F.lit(float(HC_SCALE)), 6)
             + F.lit(0.0)).alias("harmonic"),
        )
    )
