"""The round-7 promotion cohort: 8 (spark_fn, oracle_sql) pairs built
and oracle-verified during round 6 (then ``queries/staging.py``), now
REGISTERED — imported by ``queries/__init__.all_queries`` so the driver
gate sees every entry.

Promoted in place exactly like the r5/r6 cohorts (``queries/promoted.py``,
``queries/promoted_r6.py``): each entry lives next to its oracle builder
and shared constants.  Every entry was verified with the driver-grade
dtype-strict compare at sf0.001 (suite) AND sf0.01 (tools/check_staged.py)
before promotion — and re-verified by the r6 judge — censused by
tools/plan_census.py, benched as extras, and 10x scale-stressed.  Each
docstring keeps its BIGINT-headroom / window-size note (VERDICT r6 item
6).  New work stages in the fresh ``queries/staging.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401  (used by staged entries)

from nonconsumptive_spark.queries import load, register  # noqa: F401

_DUCK_TOKS = "list_filter(regexp_split_to_array(text, '[^\\pL]+'), x -> x <> '')"

# Kept so pre-promotion tooling and examples that resolve these entries
# by name keep working; registration happens in the decorator below.
STAGED: dict[str, tuple] = {}


def _stage(name: str, oracle: str):
    def deco(fn):
        STAGED[name] = (fn, oracle)
        register(name, oracle, doc=fn.__doc__ or "")(fn)
        return fn

    return deco


# -- Cox proportional hazards (binary covariate, Newton in theta) -----------
_COX_Q = 10**9
_COX_ROUNDS = 6
_COX_US_PER_HOUR = 3_600_000_000


def _cox_oracle() -> str:
    """Unrolled Newton-in-theta: r{k} = quantized (score, info) sums at
    t{k-1}'s theta, t{k} = the update.  The spine CTEs mirror
    q_logrank_test's (same lifetimes, cohorts, risk sets); MATERIALIZED
    everywhere a CTE is referenced twice (the bradley_terry lesson)."""
    parts = [f"""
    pu AS (
      SELECT user_id, min(ts) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
             max(ts) AS tl
      FROM events GROUP BY user_id),
    durs AS (
      SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS g,
             CAST((epoch_us(coalesce(tp, tl)) - epoch_us(t0))
                  // {_COX_US_PER_HOUR} AS BIGINT) AS dur,
             CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM pu),
    gt AS MATERIALIZED (
      SELECT g, CAST(count(*) AS BIGINT) AS n_users FROM durs GROUP BY g),
    tbl AS MATERIALIZED (
      SELECT g, dur, CAST(count(*) AS BIGINT) AS n_all,
             CAST(sum(ev) AS BIGINT) AS d
      FROM durs GROUP BY g, dur),
    grid AS (
      SELECT gg.g, dd.dur,
             CAST(coalesce(t.n_all, 0) AS BIGINT) AS n_all,
             CAST(coalesce(t.d, 0) AS BIGINT) AS d
      FROM (SELECT DISTINCT dur FROM tbl) dd
      CROSS JOIN (SELECT DISTINCT g FROM gt) gg
      LEFT JOIN tbl t ON t.g = gg.g AND t.dur = dd.dur),
    risk AS (
      SELECT g, dur, d,
             CAST((SELECT n_users FROM gt WHERE gt.g = grid.g)
                  - COALESCE(sum(n_all) OVER (
                      PARTITION BY g ORDER BY dur
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_risk
      FROM grid),
    wide AS MATERIALIZED (
      SELECT dur,
             CAST(sum(CASE WHEN g = 1 THEN d ELSE 0 END) AS BIGINT) AS d_a,
             CAST(sum(CASE WHEN g = 0 THEN d ELSE 0 END) AS BIGINT) AS d_b,
             CAST(sum(CASE WHEN g = 1 THEN n_risk ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN g = 0 THEN n_risk ELSE 0 END) AS BIGINT)
               AS n_b
      FROM risk GROUP BY dur),
    evt AS MATERIALIZED (SELECT * FROM wide WHERE d_a + d_b > 0)"""]
    prev_th = "1.0"
    for k in range(1, _COX_ROUNDS + 1):
        parts.append(f"""
    r{k} AS MATERIALIZED (
      SELECT CAST(coalesce(sum(CAST(floor({_COX_Q}.0
               * (d_a - (d_a + d_b)
                  * (n_a * {prev_th} / (n_b + n_a * {prev_th}))))
               AS BIGINT)), 0) AS BIGINT) AS us,
             CAST(coalesce(sum(CAST(floor({_COX_Q}.0
               * ((d_a + d_b) * n_a * CAST(n_b AS DOUBLE)
                  / ((n_b + n_a * {prev_th})
                     * (n_b + n_a * {prev_th})))) AS BIGINT)), 0)
               AS BIGINT) AS js
      FROM evt),
    t{k} AS MATERIALIZED (
      SELECT CASE WHEN js > 0
                  THEN greatest({prev_th} + CAST(us AS DOUBLE) / js, 1e-6)
                  ELSE {prev_th} END AS th
      FROM r{k})""")
        prev_th = f"(SELECT th FROM t{k})"
    last = _COX_ROUNDS
    return (
        "WITH" + ",".join(parts)
        + f"""
    SELECT (SELECT max(n_a) FROM wide) AS n_treat,
           (SELECT max(n_b) FROM wide) AS n_control,
           (SELECT CAST(sum(d_a) AS BIGINT) FROM wide) AS d_treat,
           (SELECT CAST(sum(d_a) + sum(d_b) AS BIGINT) FROM wide)
             AS d_total,
           us, js,
           round((SELECT th FROM t{last}), 6) + 0.0 AS theta,
           round(ln((SELECT th FROM t{last})), 6) + 0.0 AS beta,
           CASE WHEN js > 0 THEN
             round(1.0 / sqrt((SELECT th FROM t{last}) * js
                              / {_COX_Q}.0), 6) + 0.0
           END AS se_beta
    FROM r{last}"""
    )


@_stage("q_cox_ph", _cox_oracle())
def q_cox_ph(spark, sf_dir):
    """Cox proportional hazards on time-to-first-purchase between the
    odd/even user cohorts (operators/survival.cox_ph_binary): the
    effect-size estimate the q_logrank_test / Kaplan-Meier battery was
    missing — beta = log conversion-hazard ratio after 6 Newton rounds
    (the q_time_to_convert duration framing, non-degenerate on the test
    events table where the last-activity convention censors everyone).
    The iteration runs on
    theta = exp(beta) directly, so every in-loop term is RATIONAL in
    exact risk-set integers (no engine exp/ln until emit); per-time
    score/information terms floor-quantize to 1e-9 BIGINTs, and each
    round is one scan of the materialized duration spine + a bounded
    1-row collect.  Spine is #distinct-durations-sized; the only
    corpus-scale work is the per-user min/max agg."""
    from nonconsumptive_spark.operators.survival import cox_ph_binary

    return cox_ph_binary(load(spark, sf_dir, "events"), rounds=_COX_ROUNDS)


# -- pinball (quantile) loss readout -----------------------------------------
_PB_TAU_NUM, _PB_TAU_DEN = 3, 4  # tau = 0.75


@_stage(
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


# -- temperature-mixture materialization (hash-remainder selection) ----------
_MM_SQ = 10**6  # sqrt-weight quantization (exact-BIGINT normalizer)


@_stage(
    "q_mixture_materialize",
    f"""
    WITH dt AS (
      SELECT source, doc_id,
             CAST(len(coalesce({_DUCK_TOKS}, [])) AS BIGINT) AS nt,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents),
    per AS MATERIALIZED (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens,
             CAST(floor({_MM_SQ}.0 * sqrt(CAST(sum(nt) AS DOUBLE)))
               AS BIGINT) AS sq
      FROM dt GROUP BY source),
    tot AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS budget,
             CAST(sum(sq) AS BIGINT) AS zq
      FROM per),
    tgt AS MATERIALIZED (
      SELECT p.source, p.n_docs, p.n_tokens,
             CAST(floor(t.budget * (CAST(p.sq AS DOUBLE) / t.zq))
               AS BIGINT) AS target
      FROM per p CROSS JOIN tot t),
    plan AS MATERIALIZED (
      SELECT source, n_docs, n_tokens, target,
             target // greatest(n_tokens, 1) AS full_epochs,
             target % greatest(n_tokens, 1) AS rem_budget
      FROM tgt),
    cum AS (
      SELECT d.source, d.doc_id, d.nt,
             sum(d.nt) OVER (PARTITION BY d.source
                             ORDER BY d.h, d.doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS ct
      FROM dt d),
    sel AS (
      SELECT c.source,
             CAST(count(*) AS BIGINT) AS rem_docs,
             CAST(coalesce(sum(c.nt), 0) AS BIGINT) AS rem_tokens,
             CAST(coalesce(sum(c.doc_id), 0) AS BIGINT) AS sel_id_sum
      FROM cum c JOIN plan p ON p.source = c.source
      WHERE c.ct <= p.rem_budget
      GROUP BY c.source)
    SELECT p.source, p.n_docs, p.n_tokens, p.target,
           CAST(p.full_epochs AS BIGINT) AS full_epochs,
           CAST(p.rem_budget AS BIGINT) AS rem_budget,
           CAST(coalesce(s.rem_docs, 0) AS BIGINT) AS rem_docs,
           CAST(coalesce(s.rem_tokens, 0) AS BIGINT) AS rem_tokens,
           CAST(coalesce(s.sel_id_sum, 0) AS BIGINT) AS sel_id_sum
    FROM plan p LEFT JOIN sel s ON s.source = p.source
    """,
)
def q_mixture_materialize(spark, sf_dir):
    """The missing last mile after q_temperature_mix / q_mixture_budget:
    actually MATERIALIZE the sqrt-temperature mixture against a budget of
    one total-corpus epoch — per source, the whole-corpus repeat count
    (full_epochs, >0 = the standard small-source upsampling) plus a
    deterministic md5-ordered remainder selection that fills the leftover
    token budget, reported as exact counts AND an id-sum checksum of the
    selected docs (so the oracle verifies WHICH docs were picked, not
    just how many).  Exactness: sqrt weights floor-quantize to 1e6
    BIGINTs before the normalizer sum (no cross-row double sums); the
    target chain is one mirrored double product; everything downstream is
    integer.  Plan: one doc scan, one source agg, broadcast plan attach,
    one source-partitioned cumulative window (per-source sort — the
    remainder cut needs an order; at 100 TB each source sorts in
    parallel), one source agg."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    from nonconsumptive_spark.functions.text import tokenize

    dt = docs.select(
        "source", "doc_id",
        F.size(tokenize(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long").alias("nt"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    dt = materialize_once(dt, "mm_dt")  # per-source agg AND the cum window
    per = dt.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
        F.floor(F.lit(float(_MM_SQ))
                * F.sqrt(F.sum("nt").cast("double")))
        .cast("long").alias("sq"),
    )
    tot = per.agg(F.sum("n_tokens").cast("long").alias("budget"),
                  F.sum("sq").cast("long").alias("zq"))
    plan = (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source", "n_docs", "n_tokens",
            F.floor(F.col("budget")
                    * (F.col("sq").cast("double") / F.col("zq")))
            .cast("long").alias("target"),
        )
        .select(
            "source", "n_docs", "n_tokens", "target",
            F.expr("target div greatest(n_tokens, 1L)").cast("long")
            .alias("full_epochs"),
            (F.col("target") % F.greatest("n_tokens", F.lit(1).cast("long")))
            .cast("long").alias("rem_budget"),
        )
    )
    w = (Window.partitionBy("source").orderBy("h", "doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = dt.select("source", "doc_id", "nt",
                    F.sum("nt").over(w).alias("ct"))
    sel = (
        cum.join(F.broadcast(plan.select("source", "rem_budget")), "source")
        .filter(F.col("ct") <= F.col("rem_budget"))
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("rem_docs"),
             F.coalesce(F.sum("nt"), F.lit(0)).cast("long")
             .alias("rem_tokens"),
             F.coalesce(F.sum("doc_id"), F.lit(0)).cast("long")
             .alias("sel_id_sum"))
    )
    return (
        plan.join(sel, "source", "left")
        .select(
            "source", "n_docs", "n_tokens", "target", "full_epochs",
            "rem_budget",
            F.coalesce("rem_docs", F.lit(0)).cast("long").alias("rem_docs"),
            F.coalesce("rem_tokens", F.lit(0)).cast("long")
            .alias("rem_tokens"),
            F.coalesce("sel_id_sum", F.lit(0)).cast("long")
            .alias("sel_id_sum"),
        )
    )


# -- Jonckheere-Terpstra ordered trend test -----------------------------------
@_stage(
    "q_jonckheere_trend",
    f"""
    WITH vals AS (
      SELECT source AS g,
             CAST(len(coalesce({_DUCK_TOKS}, [])) AS BIGINT) AS v
      FROM documents),
    hist AS MATERIALIZED (
      SELECT g, v, CAST(count(*) AS BIGINT) AS cnt
      FROM vals GROUP BY g, v),
    grid AS (
      SELECT gg.g, vv.v, CAST(coalesce(h.cnt, 0) AS BIGINT) AS cnt
      FROM (SELECT DISTINCT v FROM hist) vv
      CROSS JOIN (SELECT DISTINCT g FROM hist) gg
      LEFT JOIN hist h ON h.g = gg.g AND h.v = vv.v),
    cum AS (
      SELECT g, v, cnt,
             CAST(coalesce(sum(cnt) OVER (
               PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cumlt
      FROM grid),
    lo AS (
      SELECT g, v, cnt,
             CAST(coalesce(sum(cumlt) OVER (
               PARTITION BY v ORDER BY g
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS lo_lt,
             CAST(coalesce(sum(cnt) OVER (
               PARTITION BY v ORDER BY g
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS lo_eq
      FROM cum),
    u AS (SELECT CAST(sum(cnt * (2 * lo_lt + lo_eq)) AS BIGINT) AS u2
          FROM lo),
    gs AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM hist GROUP BY g),
    m AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
                 CAST(count(*) AS BIGINT) AS ng,
                 CAST(sum(n * n) AS BIGINT) AS sn2,
                 CAST(sum(n * n * (2 * n + 3)) AS BIGINT) AS sn23
          FROM gs)
    SELECT m.nt AS n_total, m.ng AS n_groups, u.u2 AS u2,
           CASE WHEN CAST(m.nt AS DOUBLE) * m.nt * (2 * m.nt + 3) - m.sn23
                     > 0 THEN
             round((u.u2 - (CAST(m.nt AS DOUBLE) * m.nt - m.sn2) / 2.0)
                   / (2.0 * sqrt((CAST(m.nt AS DOUBLE) * m.nt
                                  * (2 * m.nt + 3) - m.sn23) / 72.0)), 6)
               + 0.0
           END AS z
    FROM u CROSS JOIN m
    """,
)
def q_jonckheere_trend(spark, sf_dir):
    """Jonckheere-Terpstra ordered-alternative trend test of document
    length across sources in lexicographic source order — the
    ordered-groups companion Kruskal-Wallis lacks (KW tests ANY
    difference; JT is powered against a monotone trend).  The doubled
    statistic u2 = sum over group pairs i<j of 2*#(x<y) + #(x=y) comes
    from TWO cumulative windows over the (group x distinct-value) grid —
    per-group cumulative counts below each value, then a per-value
    cumulative over group order — never from pair enumeration.  Null
    moments are exact integers except the N^3-scale variance term,
    computed in one mirrored double chain (BIGINT would overflow ~30x
    sf0.1; the group-sum term sn23 stays exact).  Plan: one doc scan,
    one (g, v) agg, grid-sized windows."""
    from pyspark.sql import Window

    from nonconsumptive_spark.functions.text import tokenize
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    docs = load(spark, sf_dir, "documents")
    vals = docs.select(
        F.col("source").alias("g"),
        F.size(tokenize(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long").alias("v"),
    )
    hist = materialize_once(
        vals.groupBy("g", "v").agg(F.count("*").cast("long").alias("cnt")),
        "jt_hist")
    grid = (
        hist.select("v").distinct()
        .crossJoin(hist.select("g").distinct())
        .join(hist, ["g", "v"], "left")
        .select("g", "v",
                F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"))
    )
    w_v = (Window.partitionBy("g").orderBy("v")
           .rowsBetween(Window.unboundedPreceding, -1))
    cum = grid.select(
        "g", "v", "cnt",
        F.coalesce(F.sum("cnt").over(w_v), F.lit(0)).cast("long")
        .alias("cumlt"))
    w_g = (Window.partitionBy("v").orderBy("g")
           .rowsBetween(Window.unboundedPreceding, -1))
    lo = cum.select(
        "g", "v", "cnt",
        F.coalesce(F.sum("cumlt").over(w_g), F.lit(0)).cast("long")
        .alias("lo_lt"),
        F.coalesce(F.sum("cnt").over(w_g), F.lit(0)).cast("long")
        .alias("lo_eq"))
    u = lo.agg(F.sum(F.col("cnt") * (2 * F.col("lo_lt") + F.col("lo_eq")))
               .cast("long").alias("u2"))
    gs = hist.groupBy("g").agg(F.sum("cnt").cast("long").alias("n"))
    m = gs.agg(
        F.sum("n").cast("long").alias("nt"),
        F.count("*").cast("long").alias("ng"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sn2"),
        F.sum(F.col("n") * F.col("n") * (2 * F.col("n") + 3)).cast("long")
        .alias("sn23"))
    nt_d = F.col("nt").cast("double")
    var72 = nt_d * F.col("nt") * (2 * F.col("nt") + 3) - F.col("sn23")
    return u.crossJoin(F.broadcast(m)).select(
        F.col("nt").alias("n_total"),
        F.col("ng").alias("n_groups"),
        "u2",
        F.when(var72 > 0, F.round(
            (F.col("u2") - (nt_d * F.col("nt") - F.col("sn2")) / F.lit(2.0))
            / (F.lit(2.0) * F.sqrt(var72 / F.lit(72.0))), 6) + F.lit(0.0))
        .alias("z"),
    )


# -- Ansari-Bradley scale test ------------------------------------------------
@_stage(
    "q_ansari_bradley",
    f"""
    WITH vals AS (
      SELECT doc_id % 2 AS grp,
             CAST(len(coalesce({_DUCK_TOKS}, [])) AS BIGINT) AS v
      FROM documents),
    hist AS MATERIALIZED (
      SELECT v, CAST(count(*) AS BIGINT) AS call,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      FROM vals GROUP BY v),
    cum AS (
      SELECT v, call, c1,
             CAST(coalesce(sum(call) OVER (
               ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cumlt
      FROM hist),
    tot AS (SELECT CAST(sum(call) AS BIGINT) AS n,
                   CAST(sum(c1) AS BIGINT) AS n1
            FROM hist),
    sc AS (
      SELECT c.call, c.c1,
             least(2 * c.cumlt + c.call + 1,
                   2 * (t.n + 1) - (2 * c.cumlt + c.call + 1)) AS s2
      FROM cum c CROSS JOIN tot t),
    agg AS (
      SELECT CAST(sum(c1 * s2) AS BIGINT) AS a2,
             CAST(sum(call * s2) AS BIGINT) AS s1,
             CAST(sum(call * s2 * s2) AS BIGINT) AS sq
      FROM sc)
    SELECT t.n AS n_total, t.n1 AS n_treat, a.a2, a.s1, a.sq,
           CASE WHEN t.n1 > 0 AND t.n > t.n1 AND t.n > 1
                     AND t.n * CAST(a.sq AS DOUBLE)
                         - CAST(a.s1 AS DOUBLE) * a.s1 > 0 THEN
             round((a.a2 - t.n1 * (CAST(a.s1 AS DOUBLE) / t.n))
                   / sqrt((t.n1 * CAST(t.n - t.n1 AS DOUBLE))
                          * (t.n * CAST(a.sq AS DOUBLE)
                             - CAST(a.s1 AS DOUBLE) * a.s1)
                          / (CAST(t.n AS DOUBLE) * t.n * (t.n - 1))), 6)
               + 0.0
           END AS z
    FROM agg a CROSS JOIN tot t
    """,
)
def q_ansari_bradley(spark, sf_dir):
    """Ansari-Bradley two-sample SCALE test on document length between
    the even/odd doc cohorts — the dispersion companion to the
    Mann-Whitney location test (equal medians, different spread is
    exactly what MW cannot see).  Doubled midrank scores
    s2 = min(m2, 2(N+1) - m2) with m2 = 2*cumlt + ties + 1 stay exact
    integers (the q_friedman_daily doubled-midrank discipline); the
    treat-group score sum, the null moments from the observed score
    distribution (finite-population sampling), and one float z chain at
    emit.  sq = sum of squared scores overflows BIGINT ~30x sf0.1 (N^3
    scale) — documented headroom, the variance chain itself runs in
    mirrored doubles.  Plan: one doc scan, one value-histogram agg,
    one value-spine window (global but #distinct-lengths-sized), 1-row
    attaches."""
    from pyspark.sql import Window

    from nonconsumptive_spark.functions.text import tokenize
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    docs = load(spark, sf_dir, "documents")
    vals = docs.select(
        (F.col("doc_id") % 2).alias("grp"),
        F.size(tokenize(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long").alias("v"),
    )
    hist = materialize_once(
        vals.groupBy("v").agg(
            F.count("*").cast("long").alias("call"),
            F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long")
            .alias("c1")),
        "ab_hist")
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "v", "call", "c1",
        F.coalesce(F.sum("call").over(w), F.lit(0)).cast("long")
        .alias("cumlt"))
    tot = hist.agg(F.sum("call").cast("long").alias("n"),
                   F.sum("c1").cast("long").alias("n1"))
    m2 = 2 * F.col("cumlt") + F.col("call") + 1
    sc = cum.crossJoin(F.broadcast(tot)).select(
        "call", "c1",
        F.least(m2, 2 * (F.col("n") + 1) - m2).alias("s2"))
    agg = sc.agg(
        F.sum(F.col("c1") * F.col("s2")).cast("long").alias("a2"),
        F.sum(F.col("call") * F.col("s2")).cast("long").alias("s1"),
        F.sum(F.col("call") * F.col("s2") * F.col("s2")).cast("long")
        .alias("sq"))
    n, n1 = F.col("n"), F.col("n1")
    var_num = n * F.col("sq").cast("double") - F.col("s1").cast("double") * F.col("s1")
    return agg.crossJoin(F.broadcast(tot)).select(
        n.alias("n_total"), n1.alias("n_treat"), "a2", "s1", "sq",
        F.when((n1 > 0) & (n > n1) & (n > 1) & (var_num > 0), F.round(
            (F.col("a2") - n1 * (F.col("s1").cast("double") / n))
            / F.sqrt((n1 * (n - n1).cast("double")) * var_num
                     / (n.cast("double") * n * (n - 1))), 6) + F.lit(0.0))
        .alias("z"),
    )


# -- Jelinek-Mercer lambda tuner (deleted-interpolation grid) ----------------
# ln quantization: 1e9 would overflow the BIGINT logprob.  NOTE this
# query floor-quantizes ENGINE ln() per held-out bigram inside the
# BIGINT sum, so it leans on JVM StrictMath.log == DuckDB libm log at
# every evaluated point — the same libm-equality assumption the
# weibull/logrank emit-time rounding documents, here load-bearing at a
# floor boundary.  Verified bit-identical at sf0.001/sf0.01; a 1-ulp
# divergence would flip one logprob_q unit and, only if two lambdas tie
# within 1 unit, is_best.  Accepted because the lambda grid is coarse
# (0.1 steps) and argmax gaps at both SFs are >> 1 quantum.
_LT_Q = 10**6
#                sum at ~100x sf0.1 held-out token counts


@_stage(
    "q_lm_interp_tune",
    f"""
    WITH tr_tokpos AS (
      SELECT doc_id, generate_subscripts(toks, 1) AS pos,
             unnest(toks) AS token
      FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
            WHERE doc_id % 2 = 0)),
    tr_b AS MATERIALIZED (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM (
        SELECT token AS w1,
               lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM tr_tokpos) z
      WHERE w2 IS NOT NULL GROUP BY w1, w2),
    tr_ctx AS MATERIALIZED (
      SELECT w1, CAST(sum(cb) AS BIGINT) AS cc FROM tr_b GROUP BY w1),
    tr_u AS MATERIALIZED (
      SELECT token AS w, CAST(count(*) AS BIGINT) AS cu
      FROM tr_tokpos GROUP BY token),
    consts AS (
      SELECT (SELECT CAST(sum(cu) AS BIGINT) FROM tr_u) AS t,
             (SELECT CAST(count(*) AS BIGINT) FROM tr_u) AS vv),
    he_b AS MATERIALIZED (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS ch FROM (
        SELECT token AS w1,
               lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM (SELECT doc_id, generate_subscripts(toks, 1) AS pos,
                     unnest(toks) AS token
              FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
                    WHERE doc_id % 2 = 1))) z
      WHERE w2 IS NOT NULL GROUP BY w1, w2),
    joined AS MATERIALIZED (
      SELECT h.ch,
             CAST(coalesce(b.cb, 0) AS BIGINT) AS cb,
             CAST(coalesce(x.cc, 0) AS BIGINT) AS cc,
             CAST(coalesce(u.cu, 0) AS BIGINT) AS cu
      FROM he_b h
      LEFT JOIN tr_b b ON b.w1 = h.w1 AND b.w2 = h.w2
      LEFT JOIN tr_ctx x ON x.w1 = h.w1
      LEFT JOIN tr_u u ON u.w = h.w2),
    ks AS (SELECT unnest(range(1, 10)) AS k),
    per AS (
      SELECT k.k,
             CAST(sum(j.ch * CAST(floor({_LT_Q}.0 * ln(
                 (k.k / 10.0) * (CASE WHEN j.cc > 0
                                      THEN CAST(j.cb AS DOUBLE) / j.cc
                                      ELSE 0.0 END)
                 + (1.0 - k.k / 10.0)
                   * (CAST(j.cu + 1 AS DOUBLE) / (c.t + c.vv))))
               AS BIGINT)) AS BIGINT) AS logprob_q,
             CAST(sum(j.ch) AS BIGINT) AS held_bigrams
      FROM joined j CROSS JOIN ks k CROSS JOIN consts c
      GROUP BY k.k)
    SELECT CAST(k AS BIGINT) AS k, round(k / 10.0, 1) + 0.0 AS lam,
           held_bigrams, logprob_q,
           logprob_q = max(logprob_q) OVER () AS is_best
    FROM per
    """,
)
def q_lm_interp_tune(spark, sf_dir):
    """Deleted-interpolation lambda tuning for the Jelinek-Mercer bigram
    LM: train on even docs, score held-out odd-doc bigrams under
    p = lam*p_bigram + (1-lam)*p_unigram for lam in 0.1..0.9, and flag
    the argmax — the hyperparameter-selection query the fixed-lambda
    q_lm_jm_topk ranker reads its smoothing weight from.  The unigram
    leg is Laplace-smoothed ((cu+1)/(T+V)) so every interpolated
    probability is strictly positive; per-bigram ln terms floor-quantize
    to 1e6 BIGINTs (1e9 would overflow the held-out sum ~100x sf0.1)
    so the per-lambda totals are order-free and the argmax replays
    exactly.  Plan: two corpus passes (train/held bigram aggs),
    bigram-type-keyed equi-joins, a 9-row lambda spine cross join, one
    k-group agg, one 9-row window."""
    from pyspark.sql import Window

    from nonconsumptive_spark.plans.checkpoint import materialize_once
    from nonconsumptive_spark.plans.token_cache import tokenized_documents

    # the session token cache (policy: plans/ranker_cache.py) replaces
    # THREE tokenize corpus scans (train bigrams, train unigrams, held
    # bigrams) with checkpoint reads.  NULL-text equivalence: the cache
    # stores tokenize(text) (NULL stays NULL) where this query tokenized
    # coalesce(text, '') (NULL became []); both explode to zero
    # bigram/unigram rows, so every aggregate below is unchanged.
    toksdf = tokenized_documents(spark, sf_dir)

    def bigrams(half, cname):
        toks = toksdf.filter(F.col("doc_id") % 2 == half).select("toks")
        pairs = toks.select(
            F.explode(F.arrays_zip(
                F.expr("slice(toks, 1, greatest(size(toks) - 1, 0))")
                .alias("wa"),
                F.expr("slice(toks, 2, greatest(size(toks) - 1, 0))")
                .alias("wb"),
            )).alias("p"))
        return (pairs.select(F.col("p.wa").alias("w1"),
                             F.col("p.wb").alias("w2"))
                .groupBy("w1", "w2")
                .agg(F.count("*").cast("long").alias(cname)))

    tr_b = materialize_once(bigrams(0, "cb"), "lt_trb")
    tr_ctx = tr_b.groupBy("w1").agg(F.sum("cb").cast("long").alias("cc"))
    tr_u = materialize_once(
        toksdf.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode("toks").alias("w"))
        .groupBy("w").agg(F.count("*").cast("long").alias("cu")),
        "lt_tru")
    consts = tr_u.agg(F.sum("cu").cast("long").alias("t"),
                      F.count("*").cast("long").alias("vv"))
    he_b = bigrams(1, "ch")
    joined = (
        he_b.join(tr_b, ["w1", "w2"], "left")
        .join(tr_ctx, "w1", "left")
        .join(tr_u.withColumnRenamed("w", "w2"), "w2", "left")
        .select(
            "ch",
            F.coalesce("cb", F.lit(0)).cast("long").alias("cb"),
            F.coalesce("cc", F.lit(0)).cast("long").alias("cc"),
            F.coalesce("cu", F.lit(0)).cast("long").alias("cu"))
    )
    joined = materialize_once(joined, "lt_joined")
    ks = spark.range(1, 10).select(F.col("id").alias("k"))
    lam = F.col("k") / F.lit(10.0)
    pb = F.when(F.col("cc") > 0,
                F.col("cb").cast("double") / F.col("cc")).otherwise(F.lit(0.0))
    pu = ((F.col("cu") + 1).cast("double") / (F.col("t") + F.col("vv")))
    per = (
        joined.crossJoin(F.broadcast(ks)).crossJoin(F.broadcast(consts))
        .groupBy("k")
        .agg(
            F.sum(F.col("ch")
                  * F.floor(F.lit(float(_LT_Q))
                            * F.log(lam * pb + (F.lit(1.0) - lam) * pu))
                  .cast("long")).cast("long").alias("logprob_q"),
            F.sum("ch").cast("long").alias("held_bigrams"))
    )
    return per.select(
        F.col("k").cast("long").alias("k"),
        (F.round(F.col("k") / F.lit(10.0), 1) + F.lit(0.0)).alias("lam"),
        "held_bigrams", "logprob_q",
        (F.col("logprob_q")
         == F.max("logprob_q").over(Window.partitionBy())).alias("is_best"),
    )


# -- Page's L ordered trend test over blocked ranks ---------------------------
@_stage(
    "q_page_trend",
    """
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    types AS MATERIALIZED (
      SELECT event_type,
             CAST(row_number() OVER (ORDER BY event_type) AS BIGINT) AS j
      FROM (SELECT DISTINCT event_type FROM events)),
    cnt AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    grid AS (
      SELECT d.day, t.event_type, t.j, CAST(coalesce(c.c, 0) AS BIGINT) AS c
      FROM days d CROSS JOIN types t
      LEFT JOIN cnt c ON c.day = d.day AND c.event_type = t.event_type),
    rn AS MATERIALIZED (
      SELECT day, event_type, j, c,
             CAST(row_number() OVER (
               PARTITION BY day ORDER BY c, event_type) AS BIGINT) AS r
      FROM grid),
    mid AS (
      SELECT day, c, CAST(min(r) + max(r) AS BIGINT) AS mr2
      FROM rn GROUP BY day, c),
    ranked AS MATERIALIZED (
      SELECT r.day, r.j, m.mr2
      FROM rn r JOIN mid m ON m.day = r.day AND m.c = r.c),
    lsum AS (SELECT CAST(sum(j * mr2) AS BIGINT) AS l2 FROM ranked),
    blocks AS (
      SELECT day, CAST(sum(mr2 * mr2) AS BIGINT) AS sr2
      FROM ranked GROUP BY day),
    s AS (SELECT CAST(sum(sr2) AS BIGINT) AS ss FROM blocks),
    dims AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM days) AS n,
             (SELECT CAST(count(*) AS BIGINT) FROM types) AS k)
    SELECT d.n AS n_days, d.k AS k_types, l.l2,
           CASE WHEN d.k > 1
                     AND (d.k * (d.k + 1) * (2 * d.k + 1) / 6.0
                          - d.k * ((d.k + 1) * (d.k + 1)) / 4.0)
                         * (s.ss - d.n * d.k * ((d.k + 1) * (d.k + 1)))
                         / (d.k - 1) > 0 THEN
             round((l.l2 - CAST(d.n AS DOUBLE) * (d.k * (d.k + 1) / 2.0)
                           * (d.k * (d.k + 1)) / d.k)
                   / sqrt((d.k * (d.k + 1) * (2 * d.k + 1) / 6.0
                           - d.k * ((d.k + 1) * (d.k + 1)) / 4.0)
                          * (s.ss - d.n * d.k * ((d.k + 1) * (d.k + 1)))
                          / (d.k - 1)), 6) + 0.0
           END AS z
    FROM lsum l CROSS JOIN s CROSS JOIN dims d
    """,
)
def q_page_trend(spark, sf_dir):
    """Page's L ordered-alternative trend test on the daily type mix —
    the blocked companion to q_jonckheere_trend exactly as
    q_friedman_daily is to q_kruskal_wallis: does event volume INCREASE
    along the lexicographic type order, consistently across days?
    Same spine as Friedman (within-day doubled midranks over the
    days x types grid, exact integers); L2 = sum over blocks of
    j * mr2, with within-block permutation moments conditional on the
    observed tie pattern (per-block sum of squared doubled ranks stays
    an exact BIGINT; the j-spread and the final z are one mirrored
    double chain).  Plan: one (day, type) agg, day-partitioned windows
    over the grid, three 1-row attaches."""
    from pyspark.sql import Window

    from nonconsumptive_spark.plans.checkpoint import materialize_once

    ev = load(spark, sf_dir, "events")
    cnt = ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count("*").cast("long").alias("c"))
    cnt = materialize_once(cnt, "pg_cnt")
    days = cnt.select("day").distinct()
    types = cnt.select("event_type").distinct().select(
        "event_type",
        F.row_number().over(Window.orderBy("event_type")).cast("long")
        .alias("j"))
    grid = (days.crossJoin(F.broadcast(types))
            .join(cnt, ["day", "event_type"], "left")
            .select("day", "event_type", "j",
                    F.coalesce("c", F.lit(0)).cast("long").alias("c")))
    w = Window.partitionBy("day").orderBy("c", "event_type")
    rn = grid.select("day", "event_type", "j", "c",
                     F.row_number().over(w).cast("long").alias("r"))
    rn = materialize_once(rn, "pg_rn")
    mid = rn.groupBy("day", "c").agg(
        (F.min("r") + F.max("r")).cast("long").alias("mr2"))
    ranked = materialize_once(
        rn.join(mid, ["day", "c"]).select("day", "j", "mr2"), "pg_ranked")
    lsum = ranked.agg(F.sum(F.col("j") * F.col("mr2")).cast("long")
                      .alias("l2"))
    s = (ranked.groupBy("day")
         .agg(F.sum(F.col("mr2") * F.col("mr2")).cast("long").alias("sr2"))
         .agg(F.sum("sr2").cast("long").alias("ss")))
    dims = (days.agg(F.count("*").cast("long").alias("n"))
            .crossJoin(types.agg(F.count("*").cast("long").alias("k"))))
    n, k = F.col("n"), F.col("k")
    cj = (k * (k + 1) * (2 * k + 1) / F.lit(6.0)
          - k * ((k + 1) * (k + 1)) / F.lit(4.0))
    var2 = cj * (F.col("ss") - n * k * ((k + 1) * (k + 1))) / (k - 1)
    e2 = (n.cast("double") * (k * (k + 1) / F.lit(2.0))
          * (k * (k + 1)) / k)
    return (
        lsum.crossJoin(F.broadcast(s)).crossJoin(F.broadcast(dims))
        .select(
            n.alias("n_days"), k.alias("k_types"), "l2",
            F.when((k > 1) & (var2 > 0),
                   F.round((F.col("l2") - e2) / F.sqrt(var2), 6)
                   + F.lit(0.0)).alias("z"),
        )
    )


# -- near-dup threshold tuning curve ------------------------------------------
def _threshold_curve_oracle() -> str:
    from nonconsumptive_spark.queries.dedup import _DUCK_BANDS

    return f"""
    {_DUCK_BANDS},
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS i
      FROM cands c
      JOIN shingles x ON x.doc_id = c.doc_a
      JOIN shingles y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      GROUP BY c.doc_a, c.doc_b),
    jac AS (
      SELECT round(i.i * 1.0 / (sa.n + sb.n - i.i), 4) AS j
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE round(i.i * 1.0 / (sa.n + sb.n - i.i), 4) >= 0.1),
    b AS (
      SELECT least(CAST(floor(j * 10) AS BIGINT), 9) AS bucket,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM jac GROUP BY 1)
    SELECT bucket, n_pairs,
           CAST(sum(n_pairs) OVER (
             ORDER BY bucket DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS pairs_ge
    FROM b
    """


@_stage("q_dedup_threshold_curve", _threshold_curve_oracle())
def q_dedup_threshold_curve(spark, sf_dir):
    """Near-dup pairs retained per Jaccard-threshold decile — the
    dedup-tuning companion to q_quality_retention: before committing to
    a cut, read how many verified LSH pairs each threshold keeps
    (pairs_ge is the cumulative count at-or-above the bucket).  Runs the
    full q_minhash_dedup_pairs pipeline ONCE at threshold 0.1 (>= 0.1
    guarantees an intersecting pair, so both engines see the identical
    pair set) and buckets the verified Jaccards; floor(j*10) operates on
    the SAME rounded double in both engines, so bucket edges replay
    exactly.  Plan: identical envelope to the headline minhash query
    plus one 9-row agg + window."""
    from pyspark.sql import Window

    from nonconsumptive_spark.operators.dedup import minhash_dedup_pairs

    pairs = minhash_dedup_pairs(load(spark, sf_dir, "documents"),
                                threshold=0.1)
    b = (pairs.select(
            F.least(F.floor(F.col("jaccard") * 10).cast("long"), F.lit(9))
            .cast("long").alias("bucket"))
         .groupBy("bucket").agg(F.count("*").cast("long").alias("n_pairs")))
    w = (Window.orderBy(F.desc("bucket"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return b.select("bucket", "n_pairs",
                    F.sum("n_pairs").over(w).cast("long").alias("pairs_ge"))
