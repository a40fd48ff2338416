"""Token-graph queries: communities, centralities, dense cores, link
prediction and random walks over the document bigram graph.

Iterative algorithms run a fixed number of rounds and the oracles replay
every round as generated CTEs over exact integer (or integer-quantized)
state, the same full-replay discipline as the PageRank, BFS and
assortativity entries in ``queries/text.py``.
"""

from __future__ import annotations

from nonconsumptive_spark.queries import _DUCK_TOKS, load, register


# -- label-propagation communities over the token-adjacency graph ----------
_LPA_ITERS = 4


def _lpa_ctes(k: int) -> list[str]:
    """The shared LPA CTE chain (und / nodes / l0..l{k}) — reused by the
    label-propagation oracle itself and by q_modularity's oracle."""
    cte = [f"""
    tokpos AS (
      SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
             unnest({_DUCK_TOKS}) AS token
      FROM documents),
    dedges AS (
      SELECT DISTINCT token AS src,
             lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS dst
      FROM tokpos QUALIFY dst IS NOT NULL),
    und AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM dedges UNION ALL
        SELECT dst AS src, src AS dst FROM dedges)
      WHERE src <> dst),
    nodes AS (SELECT src AS node FROM dedges UNION SELECT dst FROM dedges),
    l0 AS (SELECT node, node AS label FROM nodes)"""]
    for i in range(1, k + 1):
        cte.append(f"""
    w{i} AS (
      SELECT node, label FROM (
        SELECT u.src AS node, l.label, count(*) AS cnt,
               row_number() OVER (
                 PARTITION BY u.src
                 ORDER BY count(*) DESC, l.label ASC) AS rn
        FROM und u JOIN l{i - 1} l ON l.node = u.dst
        GROUP BY u.src, l.label)
      WHERE rn = 1),
    l{i} AS (
      SELECT n.node, coalesce(w.label, p.label) AS label
      FROM nodes n LEFT JOIN w{i} w USING (node)
      JOIN l{i - 1} p ON p.node = n.node)""")
    return cte


def _lpa_oracle(k: int) -> str:
    return ("WITH" + ",".join(_lpa_ctes(k))
            + f"\n    SELECT node, label FROM l{k}")


@register("q_label_propagation", _lpa_oracle(_LPA_ITERS),
          doc="Community labels after fixed synchronous LPA "
              "rounds (operators/graph.label_propagation): per-round one "
              "adjacency join + min-label agg, lineage cut per round.")
def q_label_propagation(spark, sf_dir):
    from nonconsumptive_spark.operators.graph import (
        bigram_edges,
        label_propagation,
    )

    edges = bigram_edges(load(spark, sf_dir, "documents"))
    return label_propagation(edges, n_iter=_LPA_ITERS)


# -- HITS hubs/authorities over the token-adjacency graph ------------------
def _hits_oracle() -> str:
    from nonconsumptive_spark.operators.graph import HITS_ITERS, HITS_SCALE

    sc = f"{float(HITS_SCALE)!r}"
    cte = [f"""
    tokpos AS (
      SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
             unnest({_DUCK_TOKS}) AS token
      FROM documents),
    ed AS (
      SELECT DISTINCT token AS src,
             lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS dst
      FROM tokpos QUALIFY dst IS NOT NULL),
    nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
    h0 AS (SELECT node, 1.0 AS s FROM nodes)"""]
    for i in range(HITS_ITERS):
        for half, (src_key, dst_key, prev, out) in enumerate(
            [("src", "dst", f"h{i}", f"a{i}"),
             ("dst", "src", f"a{i}", f"h{i + 1}")]
        ):
            cte.append(f"""
    {out}raw AS (
      SELECT n.node,
             CAST(COALESCE(r.raw, 0) AS BIGINT) AS raw
      FROM nodes n LEFT JOIN (
        SELECT e.{dst_key} AS node,
               CAST(sum(CAST(floor({sc} * p.s) AS BIGINT)) AS BIGINT) AS raw
        FROM ed e JOIN {prev} p ON p.node = e.{src_key}
        GROUP BY e.{dst_key}) r USING (node)),
    {out} AS (
      SELECT node, CAST(raw AS DOUBLE)
                   / (SELECT max(raw) FROM {out}raw) AS s
      FROM {out}raw)""")
    k = HITS_ITERS
    return ("WITH" + ",".join(cte) + f"""
    SELECT h.node, round(h.s, 6) + 0.0 AS hub,
           round(a.s, 6) + 0.0 AS authority
    FROM h{k} h JOIN a{k - 1} a USING (node)""")


@register("q_hits_scores", _hits_oracle(),
          doc="HITS hub/authority scores over the token bigraph: "
              "per-round degree-normalized joins with integer-quantized "
              "normalization (operators/graph.hits).")
def q_hits_scores(spark, sf_dir):
    from nonconsumptive_spark.operators.graph import bigram_edges, hits_scores

    return hits_scores(bigram_edges(load(spark, sf_dir, "documents")))


# -- damped stationary distribution of the token Markov chain --------------
def _stationary_oracle() -> str:
    from nonconsumptive_spark.operators.markov import (
        STAT_DAMPING,
        STAT_ITERS,
        STAT_SCALE,
    )

    d = STAT_DAMPING
    sc = f"{float(STAT_SCALE)!r}"
    cte = [f"""
    tokpos AS (
      SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
             unnest({_DUCK_TOKS}) AS token
      FROM documents),
    bigrams AS (
      SELECT w0, w1, CAST(count(*) AS BIGINT) AS count FROM (
        SELECT doc_id, token AS w0,
               lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        FROM tokpos) z
      WHERE w1 IS NOT NULL GROUP BY w0, w1),
    tt AS (
      SELECT w0, w1,
             count / sum(count) OVER (PARTITION BY w0) AS prob
      FROM bigrams),
    nodes AS (SELECT w0 AS node FROM tt UNION SELECT w1 FROM tt),
    nn AS (SELECT count(*) AS n FROM nodes),
    p0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS p FROM nodes)"""]
    for i in range(1, STAT_ITERS + 1):
        cte.append(f"""
    p{i} AS (
      SELECT nd.node,
             (1.0 - {d}) / (SELECT n FROM nn)
               + {d} * (COALESCE(c.s, 0) / {sc}) AS p
      FROM nodes nd LEFT JOIN (
        SELECT t.w1 AS node,
               CAST(sum(CAST(floor({sc} * (p.p * t.prob)) AS BIGINT))
                 AS BIGINT) AS s
        FROM tt t JOIN p{i - 1} p ON p.node = t.w0
        GROUP BY t.w1) c USING (node))""")
    return ("WITH" + ",".join(cte) + f"""
    SELECT node, round(p, 9) + 0.0 AS pi FROM p{STAT_ITERS}""")


@register("q_markov_stationary", _stationary_oracle(),
          doc="Stationary distribution of the token Markov "
              "chain by quantized power iteration over the transition edges.")
def q_markov_stationary(spark, sf_dir):
    from nonconsumptive_spark.operators.markov import stationary_distribution
    from nonconsumptive_spark.operators.wordcount import ngram_counts

    return stationary_distribution(
        ngram_counts(load(spark, sf_dir, "documents"), 2))


# ===========================================================================

# Shared undirected token-graph CTE (distinct bigram edges, symmetrized).
_DUCK_UND = f"""
    pairs0 AS (
      SELECT doc_id, token AS src,
             lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS dst
      FROM (SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
                   unnest({_DUCK_TOKS}) AS token FROM documents)),
    dedges AS (SELECT DISTINCT src, dst FROM pairs0 WHERE dst IS NOT NULL),
    und AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM dedges
        UNION ALL
        SELECT dst, src FROM dedges)
      WHERE src <> dst)"""


# -- Adamic-Adar link prediction over the token graph -----------------------
def _aa_oracle() -> str:
    import math

    from nonconsumptive_spark.operators.graph import (
        AA_MAX_MIDDLE_DEG, AA_SCALE)

    wt = ", ".join(
        f"({d}, {int(round(AA_SCALE / math.log(d)))})"
        for d in range(2, AA_MAX_MIDDLE_DEG + 1))
    return f"""
    WITH {_DUCK_UND},
    wt(deg, w) AS (VALUES {wt}),
    mids AS (
      SELECT g.mid, w.w
      FROM (SELECT src AS mid, CAST(count(*) AS BIGINT) AS deg
            FROM und GROUP BY src) g
      JOIN wt w ON w.deg = g.deg),
    adj AS (
      SELECT u.src AS mid, u.dst AS leaf, m.w
      FROM und u JOIN mids m ON u.src = m.mid),
    p AS (
      SELECT a.leaf AS node_a, b.leaf AS node_b,
             CAST(count(*) AS BIGINT) AS common_neighbors,
             CAST(sum(a.w) AS BIGINT) AS ws
      FROM adj a JOIN adj b ON a.mid = b.mid AND a.leaf < b.leaf
      GROUP BY 1, 2
      HAVING count(*) >= 2)
    SELECT node_a, node_b, common_neighbors,
           round(CAST(ws AS DOUBLE) / {AA_SCALE}, 6) + 0.0 AS aa_score
    FROM p
    WHERE NOT EXISTS (SELECT 1 FROM und u
                      WHERE u.src = p.node_a AND u.dst = p.node_b)
    """


@register("q_adamic_adar", _aa_oracle(),
          doc="Adamic-Adar link prediction over the token graph: "
              "common-neighbor wedge joins with degree-capped middle nodes.")
def q_adamic_adar(spark, sf_dir):
    from nonconsumptive_spark.operators.graph import adamic_adar, bigram_edges

    return adamic_adar(bigram_edges(load(spark, sf_dir, "documents")))


# -- k-core of the token graph ----------------------------------------------
_KCORE_K = 3
_KCORE_ROUNDS = 8


def _kcore_oracle(k: int, rounds: int) -> str:
    # Every e{r} is referenced twice by round r+1's two semi-joins; DuckDB
    # inlines plain CTEs per reference, so without MATERIALIZED the chain
    # re-expands 2^rounds times.
    chain = []
    for r in range(rounds):
        chain.append(f"""
    d{r} AS (SELECT src, count(*) AS c FROM e{r} GROUP BY src),
    a{r} AS MATERIALIZED (SELECT src FROM d{r} WHERE c >= {k}),
    e{r + 1} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{r} e
      JOIN a{r} x ON e.src = x.src
      JOIN a{r} y ON e.dst = y.src)""")
    return f"""
    WITH {_DUCK_UND},
    e0 AS MATERIALIZED (SELECT src, dst FROM und),{",".join(chain)}
    SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg
    FROM e{rounds} GROUP BY src HAVING count(*) >= {k}
    """


@register("q_kcore", _kcore_oracle(_KCORE_K, _KCORE_ROUNDS),
          doc="k-core node set after fixed synchronous peeling rounds "
              "(operators/graph.kcore).")
def q_kcore(spark, sf_dir):
    from nonconsumptive_spark.operators.graph import bigram_edges, kcore

    return kcore(bigram_edges(load(spark, sf_dir, "documents")),
                 k=_KCORE_K, n_rounds=_KCORE_ROUNDS)


# -- personalized PageRank ---------------------------------------------------
_PPR_SEEDS = ["table", "data", "query"]
_PPR_ITERS = 6


def _ppr_oracle() -> str:
    from nonconsumptive_spark.operators.graph import PPR_DAMPING, PPR_SCALE

    teleport = repr((1.0 - PPR_DAMPING) / len(_PPR_SEEDS))
    seeds = ", ".join(f"'{s}'" for s in _PPR_SEEDS)
    cte = [f"""
    pairs0 AS (
      SELECT doc_id, token AS src,
             lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS dst
      FROM (SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
                   unnest({_DUCK_TOKS}) AS token FROM documents)),
    dedges AS (SELECT DISTINCT src, dst FROM pairs0 WHERE dst IS NOT NULL),
    odeg AS (SELECT src, CAST(count(*) AS BIGINT) AS out_deg
             FROM dedges GROUP BY src),
    ed AS MATERIALIZED (
      SELECT e.src, e.dst, d.out_deg FROM dedges e JOIN odeg d USING (src)),
    nodesr AS MATERIALIZED (
      SELECT node,
             CASE WHEN node IN ({seeds})
                  THEN CAST({teleport} AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END AS restart
      FROM (SELECT src AS node FROM dedges
            UNION SELECT dst FROM dedges)),
    r0 AS (SELECT node, restart AS rank FROM nodesr)"""]
    for i in range(1, _PPR_ITERS + 1):
        cte.append(f"""
    r{i} AS MATERIALIZED (
      SELECT nd.node,
             nd.restart + CAST({PPR_DAMPING!r} AS DOUBLE)
               * (CAST(coalesce(c.sq, 0) AS DOUBLE) / {PPR_SCALE}) AS rank
      FROM nodesr nd LEFT JOIN (
        SELECT ed.dst AS node,
               CAST(sum(CAST(floor(
                 CAST(CAST(floor(r.rank * {PPR_SCALE}) AS BIGINT) AS DOUBLE)
                 / ed.out_deg) AS BIGINT)) AS BIGINT) AS sq
        FROM ed JOIN r{i - 1} r ON ed.src = r.node
        GROUP BY ed.dst) c USING (node))""")
    return ("WITH" + ",".join(cte) + f"""
    SELECT * FROM (
      SELECT node, round(rank, 9) + 0.0 AS rank FROM r{_PPR_ITERS})
    WHERE rank > 0.0""")


@register("q_ppr_tokens", _ppr_oracle(),
          doc="Personalized PageRank from seed tokens: quantized "
              "push iterations over the out-degree-normalized edge list.")
def q_ppr_tokens(spark, sf_dir):
    from nonconsumptive_spark.operators.graph import (
        bigram_edges, personalized_pagerank)

    return personalized_pagerank(
        bigram_edges(load(spark, sf_dir, "documents")),
        seeds=_PPR_SEEDS, n_iter=_PPR_ITERS)


# -- local clustering coefficient -------------------------------------------
def _cc_oracle() -> str:
    from nonconsumptive_spark.operators.graph import CC_MAX_DEG

    return f"""
    WITH {_DUCK_UND},
    degs AS (SELECT src AS mid, CAST(count(*) AS BIGINT) AS deg
             FROM und GROUP BY src),
    mids AS (SELECT mid, deg FROM degs
             WHERE deg BETWEEN 2 AND {CC_MAX_DEG}),
    adj AS (SELECT u.src AS mid, u.dst AS leaf
            FROM und u JOIN mids m ON u.src = m.mid),
    closed AS (
      SELECT a.mid, CAST(count(*) AS BIGINT) AS triangles
      FROM adj a JOIN adj b ON a.mid = b.mid AND a.leaf < b.leaf
      WHERE EXISTS (SELECT 1 FROM und u
                    WHERE u.src = a.leaf AND u.dst = b.leaf)
      GROUP BY a.mid)
    SELECT m.mid AS node, m.deg,
           CAST(coalesce(c.triangles, 0) AS BIGINT) AS triangles,
           round(CAST(2 * coalesce(c.triangles, 0) AS DOUBLE)
                 / (m.deg * (m.deg - 1)), 6) + 0.0 AS cc
    FROM mids m LEFT JOIN closed c ON c.mid = m.mid
    """


@register("q_clustering_coefficient", _cc_oracle(),
          doc="Per-node local clustering coefficient: "
              "wedge count via middle-node join, closed by edge semi-join.")
def q_clustering_coefficient(spark, sf_dir):
    from nonconsumptive_spark.operators.graph import (
        bigram_edges, clustering_coefficient)

    return clustering_coefficient(
        bigram_edges(load(spark, sf_dir, "documents")))


# -- modularity of the label-propagation partition ----------------------------
def _modularity_oracle() -> str:
    from nonconsumptive_spark.operators.graph import MOD_SCALE

    k = _LPA_ITERS
    return ("WITH" + ",".join(_lpa_ctes(k)) + f""",
    m2t AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM und),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
            FROM und GROUP BY src),
    lab AS (
      SELECT l.node, l.label, CAST(coalesce(d.deg, 0) AS BIGINT) AS deg
      FROM l{k} l LEFT JOIN deg d USING (node)),
    grp AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(deg) AS BIGINT) AS deg_sum
      FROM lab GROUP BY label),
    inn AS (
      SELECT la.label AS label, CAST(count(*) AS BIGINT) AS in2
      FROM und u JOIN l{k} la ON la.node = u.src
                 JOIN l{k} lb ON lb.node = u.dst
      WHERE la.label = lb.label GROUP BY la.label),
    perq AS (
      SELECT g.label, g.n_nodes, g.deg_sum,
             CAST(coalesce(i.in2, 0) AS BIGINT) AS in2,
             CASE WHEN m.m2 > 0 THEN CAST(floor(
               (CAST(coalesce(i.in2, 0) AS DOUBLE) / m.m2
                - (CAST(g.deg_sum AS DOUBLE) / m.m2)
                  * (CAST(g.deg_sum AS DOUBLE) / m.m2))
               * {MOD_SCALE}) AS BIGINT) ELSE 0 END AS cq
      FROM grp g LEFT JOIN inn i USING (label) CROSS JOIN m2t m),
    gtot AS (SELECT CAST(sum(cq) AS BIGINT) AS gq FROM perq)
    SELECT label, n_nodes, in2, deg_sum,
           round(cq / {float(MOD_SCALE)!r}, 9) + 0.0 AS q_contrib,
           round(gq / {float(MOD_SCALE)!r}, 6) + 0.0 AS modularity
    FROM perq CROSS JOIN gtot""")


@register("q_modularity", _modularity_oracle(),
          doc="Newman modularity of the LPA partition (operators/"
              "graph.modularity): label-keyed aggs + quantized global sum.")
def q_modularity(spark, sf_dir):
    from nonconsumptive_spark.operators.graph import bigram_edges, modularity

    return modularity(bigram_edges(load(spark, sf_dir, "documents")),
                      n_iter=_LPA_ITERS)


# -- k-truss of the token graph ------------------------------------------------
_TRUSS_K = 4
_TRUSS_ROUNDS = 3


def _truss_oracle() -> str:
    k, rounds = _TRUSS_K, _TRUSS_ROUNDS
    cte = [f"""
    tokpos AS (
      SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
             unnest({_DUCK_TOKS}) AS token
      FROM documents),
    dedges AS (
      SELECT DISTINCT token AS src,
             lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS dst
      FROM tokpos QUALIFY dst IS NOT NULL),
    c0 AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM dedges WHERE src <> dst)"""]
    for r in range(1, rounds + 1):
        cte.append(f"""
    adj{r} AS MATERIALIZED (
      SELECT a AS node, b AS nbr FROM c{r - 1}
      UNION ALL SELECT b, a FROM c{r - 1}),
    sup{r} AS MATERIALIZED (
      SELECT w.a, w.b, CAST(count(*) AS BIGINT) AS support
      FROM (SELECT xa.node AS a, xb.node AS b
            FROM adj{r} xa JOIN adj{r} xb
              ON xa.nbr = xb.nbr AND xa.node < xb.node) w
      SEMI JOIN c{r - 1} e ON e.a = w.a AND e.b = w.b
      GROUP BY w.a, w.b),
    c{r} AS MATERIALIZED (
      SELECT e.a, e.b FROM c{r - 1} e
      LEFT JOIN sup{r} s ON s.a = e.a AND s.b = e.b
      WHERE coalesce(s.support, 0) >= {k - 2})""")
    cte.append(f"""
    adjF AS MATERIALIZED (
      SELECT a AS node, b AS nbr FROM c{rounds}
      UNION ALL SELECT b, a FROM c{rounds}),
    supF AS (
      SELECT w.a, w.b, CAST(count(*) AS BIGINT) AS support
      FROM (SELECT xa.node AS a, xb.node AS b
            FROM adjF xa JOIN adjF xb
              ON xa.nbr = xb.nbr AND xa.node < xb.node) w
      SEMI JOIN c{rounds} e ON e.a = w.a AND e.b = w.b
      GROUP BY w.a, w.b)""")
    cte.append(f"""
    fin AS MATERIALIZED (
      SELECT e.a, e.b, CAST(coalesce(s.support, 0) AS BIGINT) AS support
      FROM c{rounds} e LEFT JOIN supF s ON s.a = e.a AND s.b = e.b),
    conv AS (
      SELECT coalesce(min(CASE WHEN support >= {k - 2} THEN 1 ELSE 0 END),
                      1) = 1 AS converged
      FROM fin)""")
    return ("WITH" + ",".join(cte) + """
    SELECT f.a AS src, f.b AS dst, f.support, c.converged
    FROM fin f CROSS JOIN conv c""")


@register("q_ktruss", _truss_oracle(),
          doc="k-truss edges after fixed peeling rounds with a "
              "converged flag (operators/graph.ktruss): wedge equi-joins, "
              "1-row convergence attach.")
def q_ktruss(spark, sf_dir):
    from nonconsumptive_spark.operators.graph import bigram_edges, ktruss

    return ktruss(bigram_edges(load(spark, sf_dir, "documents")),
                  k=_TRUSS_K, n_rounds=_TRUSS_ROUNDS)


# -- link-prediction panel: common neighbors / RA index / Jaccard ------------
def _lp_oracle() -> str:
    from nonconsumptive_spark.operators.graph import AA_MAX_MIDDLE_DEG, RA_SCALE

    return f"""
    WITH {_DUCK_UND},
    deg AS MATERIALIZED (
      SELECT src AS mid, CAST(count(*) AS BIGINT) AS deg
      FROM und GROUP BY src),
    mids AS (
      SELECT mid, CAST(floor({RA_SCALE}.0 / deg) AS BIGINT) AS w
      FROM deg WHERE deg >= 2 AND deg <= {AA_MAX_MIDDLE_DEG}),
    adj AS MATERIALIZED (
      SELECT u.src AS mid, u.dst AS leaf, m.w
      FROM und u JOIN mids m ON u.src = m.mid),
    p AS (
      SELECT a.leaf AS node_a, b.leaf AS node_b,
             CAST(count(*) AS BIGINT) AS common_neighbors,
             CAST(sum(a.w) AS BIGINT) AS ws
      FROM adj a JOIN adj b ON a.mid = b.mid AND a.leaf < b.leaf
      GROUP BY 1, 2
      HAVING count(*) >= 2)
    SELECT p.node_a, p.node_b, p.common_neighbors,
           round(CAST(p.ws AS DOUBLE) / {RA_SCALE}, 6) + 0.0 AS ra_score,
           round(CAST(p.common_neighbors AS DOUBLE)
                 / (da.deg + db.deg - p.common_neighbors), 6) + 0.0
             AS jaccard
    FROM p
    JOIN deg da ON da.mid = p.node_a
    JOIN deg db ON db.mid = p.node_b
    WHERE NOT EXISTS (SELECT 1 FROM und u
                      WHERE u.src = p.node_a AND u.dst = p.node_b)
    """


@register("q_link_prediction", _lp_oracle())
def q_link_prediction(spark, sf_dir):
    """Common-neighbors / Resource-Allocation / degree-capped-wedge
    Jaccard link-prediction panel over the token graph (operators/graph.
    link_prediction_panel) — the two classic predictors q_adamic_adar
    leaves out, on its exact candidate discipline (degree-capped wedge
    join, non-edge anti-join); RA weights are floor-quantized single
    divisions.  The Jaccard numerator counts only wedge-reachable common
    neighbors (middles with deg <= cap) over full-degree denominators —
    an underestimate for hub-sharing pairs, documented in the operator."""
    from nonconsumptive_spark.operators.graph import (
        bigram_edges, link_prediction_panel)

    return link_prediction_panel(bigram_edges(load(spark, sf_dir,
                                                   "documents")))


# -- truncated harmonic centrality of top-degree tokens ----------------------
def _hc_oracle() -> str:
    from nonconsumptive_spark.operators.graph import (
        HC_MAX_DIST, HC_SCALE, HC_SEEDS)

    return f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_id, token AS src,
             lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS dst
      FROM (SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
                   unnest({_DUCK_TOKS}) AS token FROM documents)),
    dedges AS (SELECT DISTINCT src, dst FROM pairs WHERE dst IS NOT NULL),
    und AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM dedges
        UNION ALL
        SELECT dst, src FROM dedges)
      WHERE src <> dst),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM und GROUP BY src),
    seeds AS MATERIALIZED (
      SELECT src AS seed, deg FROM (
        SELECT src, deg,
               row_number() OVER (ORDER BY deg DESC, src ASC) AS rn
        FROM deg) z WHERE rn <= {HC_SEEDS}),
    bfs(seed, node, dist) AS (
      SELECT seed, seed AS node, 0 AS dist FROM seeds
      UNION
      SELECT b.seed, e.dst, b.dist + 1
      FROM bfs b JOIN und e ON e.src = b.node
      WHERE b.dist < {HC_MAX_DIST}),
    md AS (
      SELECT seed, node, CAST(min(dist) AS BIGINT) AS dist
      FROM bfs GROUP BY 1, 2),
    harm AS (
      SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
             CAST(sum(CAST(floor({HC_SCALE}.0 / dist) AS BIGINT))
                  AS BIGINT) AS harm_q
      FROM md WHERE dist > 0 GROUP BY seed)
    SELECT s.seed, s.deg,
           CAST(coalesce(h.n_reached, 0) AS BIGINT) AS n_reached,
           CAST(coalesce(h.harm_q, 0) AS BIGINT) AS harm_q,
           round(coalesce(h.harm_q, 0) / {HC_SCALE}.0, 6) + 0.0 AS harmonic
    FROM seeds s LEFT JOIN harm h ON h.seed = s.seed
    """


@register("q_harmonic_centrality", _hc_oracle())
def q_harmonic_centrality(spark, sf_dir):
    """Hop-bounded harmonic centrality of the five highest-degree tokens
    (operators/graph.harmonic_centrality) — the disconnected-graph-safe
    closeness variant, via ONE multi-source BFS whose frontier carries
    the seed key (per round: one equi-join + one (seed, node) anti-join,
    lineage cut each round); contributions floor(1e9/d) sum as exact
    BIGINTs.  Oracle: DuckDB WITH RECURSIVE with the same hop bound."""
    from nonconsumptive_spark.operators.graph import (
        bigram_edges, harmonic_centrality)

    return harmonic_centrality(bigram_edges(load(spark, sf_dir,
                                                 "documents")))
