"""Statistical-inference queries: hypothesis tests, effect sizes,
interval estimates, survival analysis and regression diagnostics over the
test tables.

Every statistic is computed from integer-quantized sums (a fixed
``_*_SCALE`` per query) or exact order statistics, so the Spark plan and
the DuckDB oracle agree bit-for-bit regardless of summation order; the
remaining double operations are the identical IEEE expressions on both
engines.  Each docstring keeps its BIGINT-headroom note.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nonconsumptive_spark.queries import _DUCK_TOKS, load, register


# -- Kaplan–Meier survival over user lifetimes ------------------------------
# Lifetime = days between a user's first and last event; a user whose
# last event falls within _KM_CENS_DAYS of the observation end is
# censored (still active), otherwise the churn event is observed.  The
# survival product is carried as a 1e-9-quantized BIGINT sum of per-step
# ln((n-d)/n) terms (the exact-integer-accumulation playbook), so the
# cross-engine hash never sees float summation order; when a step
# exhausts the risk set (d = n) the term is a -1e15 sentinel whose exp()
# underflows to exactly 0.0 on both engines.
_KM_CENS_DAYS = 7


@register(
    "q_kaplan_meier",
    f"""
    WITH pu AS (
      SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
      FROM events GROUP BY user_id),
    obs AS (SELECT max(ts) AS end_ts FROM events),
    durs AS (
      SELECT CAST(date_diff('day', CAST(first_ts AS DATE),
                            CAST(last_ts AS DATE)) AS BIGINT) AS dur,
             (last_ts < end_ts - INTERVAL {_KM_CENS_DAYS} DAY) AS observed
      FROM pu CROSS JOIN obs),
    tbl AS (
      SELECT dur, CAST(count(*) AS BIGINT) AS n_all,
             CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
               AS n_event
      FROM durs GROUP BY dur),
    risk AS (
      SELECT dur, n_all, n_event,
             CAST((SELECT count(*) FROM durs)
                  - COALESCE(sum(n_all) OVER (
                      ORDER BY dur
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_risk
      FROM tbl),
    terms AS (
      SELECT dur, n_risk, n_event, n_all - n_event AS n_censored,
             CASE WHEN n_event = 0 THEN CAST(0 AS BIGINT)
                  WHEN n_event < n_risk THEN
                    CAST(floor(1000000000.0
                         * ln(CAST(n_risk - n_event AS DOUBLE) / n_risk))
                         AS BIGINT)
                  ELSE CAST(-1000000000000000 AS BIGINT) END AS term
      FROM risk),
    surv AS (
      SELECT dur, n_risk, n_event, n_censored,
             CAST(sum(term) OVER (ORDER BY dur) AS BIGINT) AS log_surv_q
      FROM terms)
    SELECT dur, n_risk, n_event, n_censored, log_surv_q,
           round(exp(log_surv_q / 1000000000.0), 6) + 0.0 AS survival
    FROM surv
    """,
    doc="Kaplan-Meier survival over user inter-event gaps: "
        "risk sets from one cumulative window over the (gap-day) spine, "
        "product-limit via exact log-sum quantization.",
)
def q_kaplan_meier(spark, sf_dir):
    from pyspark.sql import Window

    from nonconsumptive_spark.plans.checkpoint import materialize_once

    ev = load(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"),
                                   F.max("ts").alias("last_ts"))
    obs = ev.agg(F.max("ts").alias("end_ts"))
    durs = pu.crossJoin(F.broadcast(obs)).select(
        F.datediff(F.to_date("last_ts"), F.to_date("first_ts"))
        .cast("long").alias("dur"),
        (F.col("last_ts")
         < F.col("end_ts") - F.expr(f"INTERVAL {_KM_CENS_DAYS} DAYS"))
        .alias("observed"),
    )
    durs = materialize_once(durs, "km_durs")  # feeds the table AND the total
    tot = durs.agg(F.count("*").cast("long").alias("n_users"))
    tbl = durs.groupBy("dur").agg(
        F.count("*").cast("long").alias("n_all"),
        F.sum(F.col("observed").cast("long")).cast("long").alias("n_event"),
    )
    # the lifetime table is #distinct-durations rows — bounded spine window
    w_prev = (Window.orderBy("dur")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_cum = (Window.orderBy("dur")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    risk = tbl.crossJoin(F.broadcast(tot)).select(
        "dur", "n_all", "n_event",
        (F.col("n_users")
         - F.coalesce(F.sum("n_all").over(w_prev), F.lit(0)))
        .cast("long").alias("n_risk"),
    )
    terms = risk.select(
        "dur", "n_risk", "n_event",
        (F.col("n_all") - F.col("n_event")).alias("n_censored"),
        F.when(F.col("n_event") == 0, F.lit(0).cast("long"))
        .when(
            F.col("n_event") < F.col("n_risk"),
            F.floor(F.lit(1e9) * F.log(
                (F.col("n_risk") - F.col("n_event")).cast("double")
                / F.col("n_risk"))).cast("long"),
        )
        .otherwise(F.lit(-(10 ** 15)).cast("long")).alias("term"),
    )
    surv = terms.select(
        "dur", "n_risk", "n_event", "n_censored",
        F.sum("term").over(w_cum).cast("long").alias("log_surv_q"),
    )
    return surv.select(
        "dur", "n_risk", "n_event", "n_censored", "log_surv_q",
        (F.round(F.exp(F.col("log_surv_q") / F.lit(1e9)), 6)
         + F.lit(0.0)).alias("survival"),
    )


# -- Kaplan-Meier per signup cohort: survival curves, windows PARTITIONED --
@register(
    "q_kaplan_meier_cohorts",
    f"""
    WITH pu AS (
      SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
      FROM events GROUP BY user_id),
    obs AS (SELECT max(ts) AS end_ts FROM events),
    durs AS (
      SELECT CAST(date_trunc('month', first_ts) AS DATE) AS cohort,
             CAST(date_diff('day', CAST(first_ts AS DATE),
                            CAST(last_ts AS DATE)) AS BIGINT) AS dur,
             (last_ts < end_ts - INTERVAL {_KM_CENS_DAYS} DAY) AS observed
      FROM pu CROSS JOIN obs),
    ct AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
           FROM durs GROUP BY cohort),
    tbl AS (
      SELECT cohort, dur, CAST(count(*) AS BIGINT) AS n_all,
             CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
               AS n_event
      FROM durs GROUP BY cohort, dur),
    risk AS (
      SELECT t.cohort, t.dur, t.n_all, t.n_event,
             CAST(c.n_users - COALESCE(sum(t.n_all) OVER (
                    PARTITION BY t.cohort ORDER BY t.dur
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_risk
      FROM tbl t JOIN ct c USING (cohort)),
    terms AS (
      SELECT cohort, dur, n_risk, n_event, n_all - n_event AS n_censored,
             CASE WHEN n_event = 0 THEN CAST(0 AS BIGINT)
                  WHEN n_event < n_risk THEN
                    CAST(floor(1000000000.0
                         * ln(CAST(n_risk - n_event AS DOUBLE) / n_risk))
                         AS BIGINT)
                  ELSE CAST(-1000000000000000 AS BIGINT) END AS term
      FROM risk),
    surv AS (
      SELECT cohort, dur, n_risk, n_event, n_censored,
             CAST(sum(term) OVER (
               PARTITION BY cohort ORDER BY dur) AS BIGINT) AS log_surv_q
      FROM terms)
    SELECT cohort, dur, n_risk, n_event, n_censored, log_surv_q,
           round(exp(log_surv_q / 1000000000.0), 6) + 0.0 AS survival
    FROM surv
    """,
    doc="Kaplan-Meier survival stratified by signup "
        "cohort: the q_kaplan_meier fold per cohort key.",
)
def q_kaplan_meier_cohorts(spark, sf_dir):
    from pyspark.sql import Window

    from nonconsumptive_spark.plans.checkpoint import materialize_once

    ev = load(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"),
                                   F.max("ts").alias("last_ts"))
    obs = ev.agg(F.max("ts").alias("end_ts"))
    durs = pu.crossJoin(F.broadcast(obs)).select(
        F.to_date(F.date_trunc("month", "first_ts")).alias("cohort"),
        F.datediff(F.to_date("last_ts"), F.to_date("first_ts"))
        .cast("long").alias("dur"),
        (F.col("last_ts")
         < F.col("end_ts") - F.expr(f"INTERVAL {_KM_CENS_DAYS} DAYS"))
        .alias("observed"),
    )
    durs = materialize_once(durs, "kmc_durs")
    ct = durs.groupBy("cohort").agg(
        F.count("*").cast("long").alias("n_users"))
    tbl = durs.groupBy("cohort", "dur").agg(
        F.count("*").cast("long").alias("n_all"),
        F.sum(F.col("observed").cast("long")).cast("long").alias("n_event"),
    )
    w_prev = (Window.partitionBy("cohort").orderBy("dur")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_cum = (Window.partitionBy("cohort").orderBy("dur")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    risk = tbl.join(F.broadcast(ct), "cohort").select(
        "cohort", "dur", "n_all", "n_event",
        (F.col("n_users")
         - F.coalesce(F.sum("n_all").over(w_prev), F.lit(0)))
        .cast("long").alias("n_risk"),
    )
    terms = risk.select(
        "cohort", "dur", "n_risk", "n_event",
        (F.col("n_all") - F.col("n_event")).alias("n_censored"),
        F.when(F.col("n_event") == 0, F.lit(0).cast("long"))
        .when(
            F.col("n_event") < F.col("n_risk"),
            F.floor(F.lit(1e9) * F.log(
                (F.col("n_risk") - F.col("n_event")).cast("double")
                / F.col("n_risk"))).cast("long"),
        )
        .otherwise(F.lit(-(10 ** 15)).cast("long")).alias("term"),
    )
    surv = terms.select(
        "cohort", "dur", "n_risk", "n_event", "n_censored",
        F.sum("term").over(w_cum).cast("long").alias("log_surv_q"),
    )
    return surv.select(
        "cohort", "dur", "n_risk", "n_event", "n_censored", "log_surv_q",
        (F.round(F.exp(F.col("log_surv_q") / F.lit(1e9)), 6)
         + F.lit(0.0)).alias("survival"),
    )


# -- Benford first-digit audit ----------------------------------------------
def _benford_oracle() -> str:
    from nonconsumptive_spark.operators.evaluation import (
        BENFORD_P, CHI2_SCALE)

    spine = ", ".join(f"({d}, CAST({p!r} AS DOUBLE))"
                      for d, p in sorted(BENFORD_P.items()))
    return f"""
    WITH q AS (
      SELECT event_type AS g,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vq
      FROM events),
    base AS (
      SELECT g, CAST(substr(CAST(vq AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM q WHERE vq >= 1),
    obs AS (SELECT g, digit, CAST(count(*) AS BIGINT) AS o
            FROM base GROUP BY g, digit),
    tot AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY g),
    spine(digit, p) AS (VALUES {spine}),
    filled AS (
      SELECT t.g, t.n, s.digit, s.p,
             CAST(coalesce(o.o, 0) AS BIGINT) AS o
      FROM tot t CROSS JOIN spine s
      LEFT JOIN obs o ON o.g = t.g AND o.digit = s.digit),
    terms AS (
      SELECT g, n,
             CAST(floor(
               (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * p)
               * (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * p)
               / (CAST(n AS DOUBLE) * p) * {CHI2_SCALE} + 0.5)
             AS BIGINT) AS tq
      FROM filled)
    SELECT g AS event_type, max(n) AS n,
           round(CAST(sum(tq) AS DOUBLE) / {CHI2_SCALE}, 6) + 0.0 AS chi2
    FROM terms GROUP BY g
    """


@register("q_benford_deviation", _benford_oracle(),
          doc="First-digit Benford deviation per event-type "
              "group: 9-row digit spine vs exact digit counts.")
def q_benford_deviation(spark, sf_dir):
    from nonconsumptive_spark.operators.evaluation import benford_deviation

    return benford_deviation(load(spark, sf_dir, "events"),
                             group_col="event_type", value_col="value")


# -- Mann-Kendall trend test + Sen's slope per event type --------------------
_MK_SCALE = 10**6


@register(
    "q_mann_kendall",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    prs AS (
      SELECT a.event_type,
             CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END
               AS sg,
             CAST(floor({_MK_SCALE} * (b.c - a.c)
                        / date_diff('day', a.d, b.d) + 0.5) AS BIGINT)
               AS slope_q
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.d < b.d),
    sstat AS (
      SELECT event_type, CAST(sum(sg) AS BIGINT) AS s_stat
      FROM prs GROUP BY event_type),
    ties AS (
      SELECT event_type,
             CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie18
      FROM (SELECT event_type, c, CAST(count(*) AS BIGINT) AS t
            FROM daily GROUP BY event_type, c) g
      WHERE t > 1 GROUP BY event_type),
    med AS (
      SELECT event_type,
             CAST(sum(CASE WHEN rn = (m + 1) // 2 OR rn = m // 2 + 1
                           THEN slope_q ELSE 0 END) AS DOUBLE)
               / sum(CASE WHEN rn = (m + 1) // 2 OR rn = m // 2 + 1
                          THEN 1 ELSE 0 END) AS med_q
      FROM (SELECT event_type, slope_q,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY slope_q) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS m
            FROM prs) r
      GROUP BY event_type)
    SELECT b.event_type, b.n AS n_days, s.s_stat,
           b.raw18 - coalesce(t.tie18, 0) AS var18,
           round(CASE WHEN s.s_stat > 0 THEN
                   (s.s_stat - 1)
                   / sqrt(CAST(b.raw18 - coalesce(t.tie18, 0) AS DOUBLE)
                          / 18.0)
                 WHEN s.s_stat < 0 THEN
                   (s.s_stat + 1)
                   / sqrt(CAST(b.raw18 - coalesce(t.tie18, 0) AS DOUBLE)
                          / 18.0)
                 ELSE CAST(0.0 AS DOUBLE) END, 6) + 0.0 AS z,
           round(m.med_q / {_MK_SCALE}, 6) + 0.0 AS sen_slope
    FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(count(*) * (count(*) - 1) * (2 * count(*) + 5)
                      AS BIGINT) AS raw18
          FROM daily GROUP BY event_type) b
    JOIN sstat s USING (event_type)
    LEFT JOIN ties t USING (event_type)
    JOIN med m USING (event_type)
    """,
)
def q_mann_kendall(spark, sf_dir):
    """Mann-Kendall trend test + Sen's slope per event type over the
    daily count series: S = sum of pairwise sign(c_j - c_i), tie-
    corrected variance, the +-1-continuity z statistic, and the median
    pairwise slope (Sen 1968) — the nonparametric is-this-metric-
    drifting detector beside CUSUM (which finds WHEN it changed).

    Exactness: S, the variance terms, and the 1e6-quantized slopes are
    all BIGINTs; the median averages at most two integers; z is a
    3-float-op chain mirrored verbatim.  Plan: daily agg first (spine-
    sized), then an O(days^2)-per-type self-join — bounded by the day
    spine, never the event count (document the 10-year bound: 3650 days
    -> 6.7M pairs per type)."""
    from pyspark.sql import Window

    from nonconsumptive_spark.plans.checkpoint import materialize_once

    ev = load(spark, sf_dir, "events")
    # daily feeds FOUR subtrees (both pair sides, base, ties) and prs
    # feeds two (s_stat, median) — un-materialized, the events-corpus
    # agg ran 4x and the pair join twice (r9; guide §1.2)
    daily = materialize_once(
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("long").alias("c")),
        "mk_daily")
    a = daily.select("event_type", F.col("d").alias("da"),
                     F.col("c").alias("ca"))
    b = daily.select("event_type", F.col("d").alias("db"),
                     F.col("c").alias("cb"))
    prs = (
        # broadcast the day spine: daily is bounded by #types x #days,
        # never the event count, so the pair build needs no shuffle
        a.join(F.broadcast(b), "event_type")
        .filter(F.col("da") < F.col("db"))
        .select(
            "event_type",
            F.when(F.col("cb") > F.col("ca"), 1)
            .when(F.col("cb") < F.col("ca"), -1).otherwise(0).alias("sg"),
            F.floor(F.lit(_MK_SCALE) * (F.col("cb") - F.col("ca"))
                    / F.datediff("db", "da") + F.lit(0.5))
            .cast("long").alias("slope_q"),
        )
    )
    prs = materialize_once(prs, "mk_prs")
    base = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"))
    raw18 = (F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5))
    ties = (
        daily.groupBy("event_type", "c")
        .agg(F.count("*").cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("event_type")
        .agg(F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
             .cast("long").alias("tie18"))
    )
    sstat = prs.groupBy("event_type").agg(
        F.sum("sg").cast("long").alias("s_stat"))
    w = Window.partitionBy("event_type").orderBy("slope_q")
    mid = (
        prs.select("event_type", "slope_q",
                   F.row_number().over(w).alias("rn"),
                   F.count("*").over(
                       Window.partitionBy("event_type")).alias("m"))
        .filter((F.col("rn") == F.floor((F.col("m") + 1) / 2))
                | (F.col("rn") == F.floor(F.col("m") / 2) + 1))
        .groupBy("event_type")
        .agg((F.sum("slope_q").cast("double") / F.count("*"))
             .alias("med_q"))
    )
    var18 = (raw18 - F.coalesce("tie18", F.lit(0))).cast("long")
    sd = F.sqrt(var18.cast("double") / F.lit(18.0))
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / sd)
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / sd)
        .otherwise(F.lit(0.0))
    )
    return (
        base.join(sstat, "event_type")
        .join(ties, "event_type", "left")
        .join(mid, "event_type")
        .select(
            "event_type", F.col("n").alias("n_days"), "s_stat",
            var18.alias("var18"),
            (F.round(z, 6) + F.lit(0.0)).alias("z"),
            (F.round(F.col("med_q") / _MK_SCALE, 6) + F.lit(0.0))
            .alias("sen_slope"),
        )
    )


# -- Neyman optimal sample allocation ----------------------------------------
_NEY_BUDGET = 100
_NEY_SCALE = 10**6


@register(
    "q_neyman_allocation",
    f"""
    WITH mom AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(n_chars) AS BIGINT) AS sm,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS ssq
      FROM documents GROUP BY source),
    wq AS (
      SELECT source, n_rows,
             round(sqrt(CAST(n_rows * ssq - sm * sm AS DOUBLE)
                        / (CAST(n_rows AS DOUBLE) * n_rows)), 6) + 0.0
               AS sigma,
             CAST(floor(n_rows
                        * sqrt(CAST(n_rows * ssq - sm * sm AS DOUBLE)
                               / (CAST(n_rows AS DOUBLE) * n_rows))
                        * {_NEY_SCALE} + 0.5) AS BIGINT) AS w
      FROM mom),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM wq)
    SELECT source, n_rows, sigma,
           CAST(floor({_NEY_BUDGET} * CAST(w AS DOUBLE) / wt + 0.5)
                AS BIGINT) AS alloc
    FROM wq CROSS JOIN tot
    """,
)
def q_neyman_allocation(spark, sf_dir):
    """Neyman optimal allocation of a {budget}-row sample across sources:
    n_s proportional to N_s * sigma_s (minimum-variance stratified
    sampling for a fixed budget — the statistically-grounded upgrade to
    proportional allocation; Neyman 1934).  Population sigma comes from
    exact BIGINT moments with one division + one sqrt; the N*sigma
    weights quantize to BIGINTs before the normalizing sum, so the
    allocation replays exactly.  Plan: one stratum moment agg + a 1-row
    broadcast total."""
    docs = load(spark, sf_dir, "documents")
    mom = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("n_chars").cast("long").alias("sm"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("ssq"),
    )
    sigma = F.sqrt(
        (F.col("n_rows") * F.col("ssq") - F.col("sm") * F.col("sm"))
        .cast("double")
        / (F.col("n_rows").cast("double") * F.col("n_rows"))
    )
    wq = mom.select(
        "source", "n_rows",
        (F.round(sigma, 6) + F.lit(0.0)).alias("sigma"),
        F.floor(F.col("n_rows") * sigma * _NEY_SCALE + F.lit(0.5))
        .cast("long").alias("w"),
    )
    tot = wq.agg(F.sum("w").cast("long").alias("wt"))
    return (
        wq.crossJoin(F.broadcast(tot))
        .select(
            "source", "n_rows", "sigma",
            F.floor(F.lit(_NEY_BUDGET) * F.col("w").cast("double")
                    / F.col("wt") + F.lit(0.5)).cast("long").alias("alloc"),
        )
    )


# -- Kendall tau-b over bucketized (length, token-count) ----------------------
# Cells bound the pair build: documents aggregate to (x_bucket, y_bucket,
# count) first, so the concordance join touches #cells^2 rows (a few
# hundred), never n^2 document pairs.  Doc counts per cell keep nc/nd/
# tie sums exact BIGINTs; tau-b itself is the one mirrored float.
_KT_XW = 50   # n_chars bucket width
_KT_YW = 10   # token-count bucket width


@register(
    "q_kendall_tau_b",
    f"""
    WITH cells AS (
      SELECT n_chars // {_KT_XW} AS xb,
             len(list_filter(regexp_split_to_array(coalesce(text, ''),
                                                   '[^\\pL]+'),
                             x -> x <> '')) // {_KT_YW} AS yb,
             CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
    xt AS (
      SELECT CAST(sum(nx * (nx - 1) // 2) AS BIGINT) AS n1
      FROM (SELECT CAST(sum(c) AS BIGINT) AS nx FROM cells GROUP BY xb)),
    yt AS (
      SELECT CAST(sum(ny * (ny - 1) // 2) AS BIGINT) AS n2
      FROM (SELECT CAST(sum(c) AS BIGINT) AS ny FROM cells GROUP BY yb)),
    cd AS (
      SELECT
        CAST(coalesce(sum(CASE WHEN b.yb > a.yb
                               THEN a.c * b.c END), 0) AS BIGINT) AS nc,
        CAST(coalesce(sum(CASE WHEN b.yb < a.yb
                               THEN a.c * b.c END), 0) AS BIGINT) AS nd
      FROM cells a JOIN cells b ON a.xb < b.xb AND a.yb <> b.yb)
    SELECT n, CAST(n * (n - 1) // 2 AS BIGINT) AS n0, n1, n2, nc, nd,
           CASE WHEN (n * (n - 1) // 2 - n1) * (n * (n - 1) // 2 - n2) > 0
                THEN round((nc - nd) / sqrt(
                       CAST(n * (n - 1) // 2 - n1 AS DOUBLE)
                       * (n * (n - 1) // 2 - n2)), 6) + 0.0
                ELSE CAST(0.0 AS DOUBLE) END AS tau_b
    FROM tot CROSS JOIN xt CROSS JOIN yt CROSS JOIN cd
    """,
)
def q_kendall_tau_b(spark, sf_dir):
    """Kendall tau-b rank correlation between document length and token
    count (bucketized).  tau-b handles the heavy ties bucketing creates:
    nc/nd count concordant/discordant CELL pairs weighted by c_a*c_b, and
    the marginal tie terms n1/n2 come off the bucket histograms — all
    exact BIGINT sums, with one mirrored sqrt at the end.  Plan: one
    cell agg, then everything runs on the <=#cells frame (tiny); the
    strict-inequality self-join is a whitelisted bounded BNLJ."""
    from nonconsumptive_spark.functions.text import tokenize

    docs = load(spark, sf_dir, "documents")
    cells = (
        docs.select(
            (F.col("n_chars") / _KT_XW).cast("long").alias("xb"),
            (F.size(tokenize(F.coalesce("text", F.lit(""))))
             / _KT_YW).cast("long").alias("yb"),
        )
        .groupBy("xb", "yb")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = cells.agg(F.sum("c").cast("long").alias("n"))
    xt = (
        cells.groupBy("xb").agg(F.sum("c").cast("long").alias("nx"))
        .agg(F.sum(F.expr("nx * (nx - 1) div 2")).cast("long").alias("n1"))
    )
    yt = (
        cells.groupBy("yb").agg(F.sum("c").cast("long").alias("ny"))
        .agg(F.sum(F.expr("ny * (ny - 1) div 2")).cast("long").alias("n2"))
    )
    a = cells.select(F.col("xb").alias("xa"), F.col("yb").alias("ya"),
                     F.col("c").alias("ca"))
    b = cells.select(F.col("xb").alias("xbb"), F.col("yb").alias("ybb"),
                     F.col("c").alias("cb"))
    cd = (
        a.join(F.broadcast(b),
               (F.col("xa") < F.col("xbb")) & (F.col("ya") != F.col("ybb")))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("ybb") > F.col("ya"),
                             F.col("ca") * F.col("cb"))), F.lit(0))
            .cast("long").alias("nc"),
            F.coalesce(
                F.sum(F.when(F.col("ybb") < F.col("ya"),
                             F.col("ca") * F.col("cb"))), F.lit(0))
            .cast("long").alias("nd"),
        )
    )
    n0 = F.expr("n * (n - 1) div 2")
    denom = (n0 - F.col("n1")) * (n0 - F.col("n2"))
    return (
        tot.crossJoin(F.broadcast(xt))
        .crossJoin(F.broadcast(yt))
        .crossJoin(F.broadcast(cd))
        .select(
            "n", n0.cast("long").alias("n0"), "n1", "n2", "nc", "nd",
            F.when(denom > 0,
                   F.round((F.col("nc") - F.col("nd"))
                           / F.sqrt(denom.cast("double")), 6) + F.lit(0.0))
            .otherwise(F.lit(0.0)).alias("tau_b"),
        )
    )


# -- Kruskal-Wallis H across sources ------------------------------------------
# k-group generalization of q_mann_whitney_sources, same doubled-midrank
# exactness: per distinct value v with combined tie size t and prior
# cumulative C, 2*midrank = 2C + t + 1, so 2R_g is a pure BIGINT.  The
# per-group (2R_g)^2/n_g terms quantize to integer 1e-3 units through ONE
# mirrored double expression before the cross-group sum, which makes the
# H statistic summation-order independent.
_KW_SCALE = 1000


@register(
    "q_kruskal_wallis",
    f"""
    WITH counts AS (
      SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY source, n_chars),
    spine AS (
      SELECT v, t,
             CAST(coalesce(sum(t) OVER (
               ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS cum
      FROM (SELECT v, CAST(sum(c) AS BIGINT) AS t
            FROM counts GROUP BY v)),
    grp AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_g,
             CAST(sum(c * (2 * s.cum + s.t + 1)) AS BIGINT) AS r2
      FROM counts JOIN spine s USING (v)
      GROUP BY source),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(CAST(floor(CAST(r2 AS DOUBLE) * r2 / n_g
                                 * {_KW_SCALE}) AS BIGINT)) AS BIGINT) AS sq
      FROM grp),
    ties AS (
      SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tsum FROM spine)
    SELECT k AS n_groups, n AS n_total, sq AS s_q, tsum AS tie_q,
           round(3.0 * sq / {_KW_SCALE} / (CAST(n AS DOUBLE) * (n + 1))
                 - 3.0 * (n + 1), 4) + 0.0 AS h_stat,
           CASE WHEN tsum < CAST(n AS BIGINT) * n * n - n
                THEN round((3.0 * sq / {_KW_SCALE}
                            / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1))
                           / (1.0 - CAST(tsum AS DOUBLE)
                              / (CAST(n AS DOUBLE) * n * n - n)), 4) + 0.0
                END AS h_corrected
    FROM agg CROSS JOIN ties
    """,
)
def q_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H test on document length across ALL sources at
    once (the k-group rank test; Welch/MWU/KS cover the pairwise family).
    Doubled midranks keep every per-group rank sum an exact BIGINT; see
    the _KW_SCALE note for how the squared-rank terms stay order-
    independent.  Plan: (source, v) agg, a value-spine window bounded by
    #distinct lengths (never document rows), one broadcast spine join,
    and two tiny aggregates."""
    from pyspark.sql import Window

    from nonconsumptive_spark.plans.checkpoint import materialize_once

    # counts feeds spine AND grp, spine feeds grp AND ties —
    # un-materialized, the documents scan + (source, v) agg ran 4x (r9)
    counts = materialize_once(
        load(spark, sf_dir, "documents")
        .groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count("*").cast("long").alias("c")),
        "kw_counts")
    # unpartitioned window over DISTINCT length values only (bounded by
    # the value domain, ~500 at test SF; lengths are capped in practice)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    spine = materialize_once(
        counts.groupBy("v").agg(F.sum("c").cast("long").alias("t"))
        .select("v", "t",
                F.coalesce(F.sum("t").over(w), F.lit(0))
                .cast("long").alias("cum")),
        "kw_spine")
    grp = (
        counts.join(F.broadcast(spine), "v")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(F.col("c")
                  * (2 * F.col("cum") + F.col("t") + 1))
            .cast("long").alias("r2"),
        )
    )
    agg = grp.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum(
            F.floor(F.col("r2").cast("double") * F.col("r2") / F.col("n_g")
                    * _KW_SCALE).cast("long")
        ).cast("long").alias("sq"),
    )
    ties = spine.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long").alias("tsum"))
    nd = F.col("n").cast("double")
    h = (3.0 * F.col("sq") / _KW_SCALE / (nd * (F.col("n") + 1))
         - 3.0 * (F.col("n") + 1))
    n3n = F.col("n").cast("long") * F.col("n") * F.col("n") - F.col("n")
    return (
        agg.crossJoin(F.broadcast(ties))
        .select(
            F.col("k").alias("n_groups"), F.col("n").alias("n_total"),
            F.col("sq").alias("s_q"), F.col("tsum").alias("tie_q"),
            (F.round(h, 4) + F.lit(0.0)).alias("h_stat"),
            F.when(F.col("tsum") < n3n,
                   F.round(h / (1.0 - F.col("tsum").cast("double")
                                / n3n.cast("double")), 4) + F.lit(0.0))
            .alias("h_corrected"),
        )
    )


# -- Brown-Forsythe (median-based Levene) variance-homogeneity test -----------
_BF_SCALE = 100


@register(
    "q_levene_bf",
    f"""
    WITH counts AS (
      SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY source, n_chars),
    cdf AS (
      SELECT source, v, c,
             CAST(sum(c) OVER (PARTITION BY source ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM counts),
    med AS (
      SELECT source, n,
             CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN v END)
                  + min(CASE WHEN cum >= (n + 2) // 2 THEN v END)
                  AS BIGINT) AS med2
      FROM cdf GROUP BY source, n),
    dev AS (
      SELECT c.source, m.n,
             CAST(sum(c.c * abs(2 * c.v - m.med2)) AS BIGINT) AS a_q,
             CAST(sum(c.c * abs(2 * c.v - m.med2)
                          * abs(2 * c.v - m.med2)) AS BIGINT) AS b_q,
             m.med2
      FROM counts c JOIN med m USING (source)
      GROUP BY c.source, m.n, m.med2),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nt,
             CAST(sum(a_q) AS BIGINT) AS t,
             CAST(sum(b_q) AS BIGINT) AS bt,
             CAST(sum(CAST(floor(CAST(a_q AS DOUBLE) * a_q / n
                                 * {_BF_SCALE}) AS BIGINT)) AS BIGINT) AS q1
      FROM dev)
    SELECT d.source, d.n AS n_docs,
           round(d.med2 / 2.0, 1) + 0.0 AS median,
           d.a_q, d.b_q,
           round(CAST(d.a_q AS DOUBLE) / (2 * d.n), 6) + 0.0 AS z_mean,
           CASE WHEN t.bt * {_BF_SCALE} - t.q1 > 0 AND t.k > 1
                THEN round(CAST(t.nt - t.k AS DOUBLE) / (t.k - 1)
                           * (t.q1 - floor(CAST(t.t AS DOUBLE) * t.t / t.nt
                                           * {_BF_SCALE}))
                           / (t.bt * {_BF_SCALE} - t.q1), 4) + 0.0
                END AS w_stat
    FROM dev d CROSS JOIN tot t
    """,
)
def q_levene_bf(spark, sf_dir):
    """Brown-Forsythe test (median-based Levene) for homogeneity of
    document-length variance across sources.  Exact per-source medians
    come off the length histogram as the two central order statistics
    (med2 = their sum, an integer), absolute deviations are kept in
    doubled units so A_g/B_g are exact BIGINTs, and the cross-group sums
    behind the W statistic quantize per group through one mirrored
    floor() (same trick as q_kruskal_wallis) — W is order-independent.
    Plan: histogram agg, per-source bounded windows, broadcast join back,
    1-row totals attach."""
    from pyspark.sql import Window

    counts = (
        load(spark, sf_dir, "documents")
        .groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    w_cum = (Window.partitionBy("source").orderBy("v")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy("source")
    cdf = counts.select(
        "source", "v", "c",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(w_all).cast("long").alias("n"),
    )
    med = (
        cdf.groupBy("source", "n")
        .agg(
            (F.min(F.when(F.col("cum") >= F.expr("(n + 1) div 2"),
                          F.col("v")))
             + F.min(F.when(F.col("cum") >= F.expr("(n + 2) div 2"),
                            F.col("v"))))
            .cast("long").alias("med2"))
    )
    z2 = F.abs(2 * F.col("v") - F.col("med2"))
    dev = (
        counts.join(F.broadcast(med), "source")
        .groupBy("source", "n", "med2")
        .agg(F.sum(F.col("c") * z2).cast("long").alias("a_q"),
             F.sum(F.col("c") * z2 * z2).cast("long").alias("b_q"))
    )
    tot = dev.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("nt"),
        F.sum("a_q").cast("long").alias("t"),
        F.sum("b_q").cast("long").alias("bt"),
        F.sum(F.floor(F.col("a_q").cast("double") * F.col("a_q")
                      / F.col("n") * _BF_SCALE).cast("long"))
        .cast("long").alias("q1"),
    )
    ssw = F.col("bt") * _BF_SCALE - F.col("q1")
    ssb = (F.col("q1")
           - F.floor(F.col("t").cast("double") * F.col("t") / F.col("nt")
                     * _BF_SCALE))
    return (
        dev.crossJoin(F.broadcast(tot))
        .select(
            "source", F.col("n").alias("n_docs"),
            (F.round(F.col("med2") / 2.0, 1) + F.lit(0.0)).alias("median"),
            "a_q", "b_q",
            (F.round(F.col("a_q").cast("double") / (2 * F.col("n")), 6)
             + F.lit(0.0)).alias("z_mean"),
            F.when((ssw > 0) & (F.col("k") > 1),
                   F.round((F.col("nt") - F.col("k")).cast("double")
                           / (F.col("k") - 1) * ssb / ssw, 4) + F.lit(0.0))
            .alias("w_stat"),
        )
    )


# -- delete-one-source jackknife for the tokens-per-doc ratio ------------------
_JK_SCALE = 10**6


@register(
    "q_jackknife_ratio",
    f"""
    WITH grp AS (
      SELECT source, CAST(count(*) AS BIGINT) AS d_g,
             CAST(sum(len(list_filter(regexp_split_to_array(
                    coalesce(text, ''), '[^\\pL]+'), x -> x <> '')))
                  AS BIGINT) AS t_g
      FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS g,
             CAST(sum(d_g) AS BIGINT) AS d, CAST(sum(t_g) AS BIGINT) AS t
      FROM grp),
    theta AS (
      SELECT g, d, t,
             CAST(floor(CAST(t.t - grp.t_g AS DOUBLE) / (t.d - grp.d_g)
                        * {_JK_SCALE}) AS BIGINT) AS th_q
      FROM grp CROSS JOIN tot t),
    mom AS (
      SELECT any_value(g) AS g, any_value(d) AS d, any_value(t) AS t,
             CAST(sum(th_q) AS BIGINT) AS s1,
             CAST(sum((th_q - (SELECT sum(th_q) // count(*) FROM theta))
                      * (th_q - (SELECT sum(th_q) // count(*) FROM theta)))
               AS BIGINT) AS s2
      FROM theta)
    SELECT g AS n_groups, d AS n_docs, t AS n_tokens,
           round(CAST(t AS DOUBLE) / d, 6) + 0.0 AS theta_hat,
           round(CAST(s1 AS DOUBLE) / g / {_JK_SCALE}, 6) + 0.0
             AS theta_bar,
           round(sqrt(CAST(g - 1 AS DOUBLE) / g * s2)
                 / {_JK_SCALE}, 6) + 0.0 AS jk_se,
           round((g - 1) * (CAST(s1 AS DOUBLE) / g / {_JK_SCALE}
                            - CAST(t AS DOUBLE) / d), 6) + 0.0 AS jk_bias
    FROM mom
    """,
)
def q_jackknife_ratio(spark, sf_dir):
    """Delete-one-source jackknife for the corpus tokens-per-document
    ratio: standard error + bias of a ratio estimator under source-level
    resampling — the honest uncertainty for "how many tokens does a doc
    contribute", where docs within a source are correlated.  Leave-one-
    out thetas quantize to 1e-6 BIGINT units before any cross-group sum,
    and the squared deviations use the INTEGER mean (s1 div g), so every
    aggregate replays exactly.  Plan: one per-source agg, a 1-row totals
    attach, then arithmetic on a #sources-row frame."""
    from nonconsumptive_spark.functions.text import tokenize

    grp = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("d_g"),
             F.sum(F.size(tokenize(F.coalesce("text", F.lit("")))))
             .cast("long").alias("t_g"))
    )
    tot = grp.agg(F.count("*").cast("long").alias("g"),
                  F.sum("d_g").cast("long").alias("d"),
                  F.sum("t_g").cast("long").alias("t"))
    theta = (
        grp.crossJoin(F.broadcast(tot))
        .select(
            "g", "d", "t",
            F.floor((F.col("t") - F.col("t_g")).cast("double")
                    / (F.col("d") - F.col("d_g")) * _JK_SCALE)
            .cast("long").alias("th_q"),
        )
    )
    mom = theta.agg(
        F.first("g").alias("g"), F.first("d").alias("d"),
        F.first("t").alias("t"),
        F.sum("th_q").cast("long").alias("s1"),
        F.sum(F.col("th_q") * F.col("th_q")).cast("long").alias("ssq"),
        F.count("*").cast("long").alias("cnt"),
    )
    # sum of squared deviations from the INTEGER mean, computed exactly
    # from (ssq, s1, mean_q): sum((x - m)^2) = ssq - 2*m*s1 + g*m^2
    mean_q = F.expr("s1 div cnt")
    s2 = (F.col("ssq") - 2 * mean_q * F.col("s1")
          + F.col("cnt") * mean_q * mean_q)
    return mom.select(
        F.col("g").alias("n_groups"), F.col("d").alias("n_docs"),
        F.col("t").alias("n_tokens"),
        (F.round(F.col("t").cast("double") / F.col("d"), 6) + F.lit(0.0))
        .alias("theta_hat"),
        (F.round(F.col("s1").cast("double") / F.col("g") / _JK_SCALE, 6)
         + F.lit(0.0)).alias("theta_bar"),
        (F.round(F.sqrt((F.col("g") - 1).cast("double") / F.col("g")
                        * s2.cast("double")) / _JK_SCALE, 6) + F.lit(0.0))
        .alias("jk_se"),
        (F.round((F.col("g") - 1)
                 * (F.col("s1").cast("double") / F.col("g") / _JK_SCALE
                    - F.col("t").cast("double") / F.col("d")), 6)
         + F.lit(0.0)).alias("jk_bias"),
    )


# -- Wilson score interval for per-source pass proportions ---------------------
_WILSON_Z = 1.96
_WILSON_Z2 = 3.8416
_WILSON_MIN_CHARS = 200


@register(
    "q_wilson_ci",
    f"""
    WITH g AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(coalesce(sum(CASE WHEN n_chars >= {_WILSON_MIN_CHARS}
                                    THEN 1 END), 0) AS BIGINT) AS k
      FROM documents GROUP BY source)
    SELECT source, n, k,
           round(CAST(k AS DOUBLE) / n, 6) + 0.0 AS p_hat,
           greatest(0.0, round((CAST(k AS DOUBLE) / n + {_WILSON_Z2} / (2 * n)
                  - {_WILSON_Z} * sqrt((CAST(k AS DOUBLE) / n)
                        * (1 - CAST(k AS DOUBLE) / n) / n
                        + {_WILSON_Z2} / (4.0 * n * n)))
                 / (1 + {_WILSON_Z2} / n), 6) + 0.0) AS wilson_lo,
           least(1.0, round((CAST(k AS DOUBLE) / n + {_WILSON_Z2} / (2 * n)
                  + {_WILSON_Z} * sqrt((CAST(k AS DOUBLE) / n)
                        * (1 - CAST(k AS DOUBLE) / n) / n
                        + {_WILSON_Z2} / (4.0 * n * n)))
                 / (1 + {_WILSON_Z2} / n), 6) + 0.0) AS wilson_hi
    FROM g
    """,
)
def q_wilson_ci(spark, sf_dir):
    """Wilson 95% score interval for the per-source proportion of
    documents passing a length gate — the proportion CI that behaves at
    k=0/k=n and small n, where the Wald interval collapses (Wilson 1927;
    the standard for per-slice pass-rate dashboards).  Both bounds are
    one fixed IEEE chain over the exact BIGINT (k, n) with z and z^2 as
    shared DECIMAL literals, mirrored token-for-token in the oracle.
    Plan: one groupBy(source) — nothing else."""
    g = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n"),
             F.coalesce(F.sum(F.when(
                 F.col("n_chars") >= _WILSON_MIN_CHARS, 1)), F.lit(0))
             .cast("long").alias("k"))
    )
    p = F.col("k").cast("double") / F.col("n")
    center = p + _WILSON_Z2 / (2 * F.col("n"))
    half = _WILSON_Z * F.sqrt(p * (1 - p) / F.col("n")
                              + _WILSON_Z2 / (4.0 * F.col("n") * F.col("n")))
    denom = 1 + _WILSON_Z2 / F.col("n")
    return g.select(
        "source", "n", "k",
        (F.round(p, 6) + F.lit(0.0)).alias("p_hat"),
        F.greatest(F.lit(0.0),
                   F.round((center - half) / denom, 6) + F.lit(0.0))
        .alias("wilson_lo"),
        F.least(F.lit(1.0),
                F.round((center + half) / denom, 6) + F.lit(0.0))
        .alias("wilson_hi"),
    )


# -- Wald-Wolfowitz runs test on daily up/down moves ---------------------------
@register(
    "q_runs_test",
    """
    WITH daily AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    moves AS (
      SELECT event_type, d, sgn FROM (
        SELECT event_type, d,
               CASE WHEN y > lag(y) OVER w THEN 1
                    WHEN y < lag(y) OVER w THEN -1 END AS sgn
        FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d))
      WHERE sgn IS NOT NULL),
    runs AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(coalesce(sum(CASE WHEN sgn = 1 THEN 1 END), 0)
                  AS BIGINT) AS n_up,
             CAST(coalesce(sum(CASE WHEN sgn = -1 THEN 1 END), 0)
                  AS BIGINT) AS n_down,
             CAST(coalesce(sum(CASE WHEN prev IS NULL OR sgn <> prev
                                    THEN 1 END), 0) AS BIGINT) AS n_runs
      FROM (SELECT event_type, sgn,
                   lag(sgn) OVER (PARTITION BY event_type ORDER BY d)
                     AS prev
            FROM moves)
      GROUP BY event_type)
    SELECT event_type, n AS n_moves, n_up, n_down, n_runs,
           CASE WHEN n_up > 0 AND n_down > 0 AND n > 1
                     AND (2.0 * n_up * n_down / n)
                         * (2.0 * n_up * n_down / n - 1) / (n - 1) > 0
                THEN round((n_runs - (2.0 * n_up * n_down / n + 1))
                           / sqrt((2.0 * n_up * n_down / n)
                                  * (2.0 * n_up * n_down / n - 1)
                                  / (n - 1)), 4) + 0.0
                END AS z_stat
    FROM runs
    """,
)
def q_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test for randomness of each event type's
    daily up/down moves: too FEW runs = trending, too MANY =
    oscillating — the nonparametric is-this-series-random check that
    complements q_mann_kendall's monotone-trend view.  Run and sign
    counts are exact BIGINTs off two bounded per-type windows; z uses
    the sigma^2 = (mu-1)(mu-2)/(n-1) identity as one mirrored float
    chain with a zero-variance guard.  Plan: one daily agg + two
    #days-bounded windows per type."""
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type",
                 F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(F.count("*").cast("long").alias("y"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    moves = (
        daily.select(
            "event_type", "d",
            F.when(F.col("y") > F.lag("y").over(w), 1)
            .when(F.col("y") < F.lag("y").over(w), -1).alias("sgn"))
        .filter(F.col("sgn").isNotNull())
    )
    runs = (
        moves.select("event_type", "sgn",
                     F.lag("sgn").over(w).alias("prev"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.coalesce(F.sum(F.when(F.col("sgn") == 1, 1)), F.lit(0))
            .cast("long").alias("n_up"),
            F.coalesce(F.sum(F.when(F.col("sgn") == -1, 1)), F.lit(0))
            .cast("long").alias("n_down"),
            F.coalesce(
                F.sum(F.when(F.col("prev").isNull()
                             | (F.col("sgn") != F.col("prev")), 1)),
                F.lit(0)).cast("long").alias("n_runs"),
        )
    )
    mu1 = 2.0 * F.col("n_up") * F.col("n_down") / F.col("n")
    var = mu1 * (mu1 - 1) / (F.col("n") - 1)
    return runs.select(
        F.col("event_type"), F.col("n").alias("n_moves"),
        "n_up", "n_down", "n_runs",
        F.when((F.col("n_up") > 0) & (F.col("n_down") > 0)
               & (F.col("n") > 1) & (var > 0),
               F.round((F.col("n_runs") - (mu1 + 1)) / F.sqrt(var), 4)
               + F.lit(0.0)).alias("z_stat"),
    )


# -- OLS influence diagnostics (Cook's distance) -------------------------------
_COOKS_SCALE = 10**6


@register(
    "q_cooks_distance",
    f"""
    WITH per AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
             CAST(len(list_filter(regexp_split_to_array(
               coalesce(text, ''), '[^\\pL]+'), t -> t <> '')) AS BIGINT)
               AS y
      FROM documents),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM per),
    fit AS (
      SELECT p.doc_id, p.x, p.y, m.n, m.sx, m.sxx,
             p.y - ((CAST(m.sy AS DOUBLE)
                     - CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
                       / (m.n * m.sxx - m.sx * m.sx) * m.sx) / m.n
                    + CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
                      / (m.n * m.sxx - m.sx * m.sx) * p.x) AS e,
             1.0 / m.n
               + (p.x - CAST(m.sx AS DOUBLE) / m.n)
                 * (p.x - CAST(m.sx AS DOUBLE) / m.n)
                 / (CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sx / m.n)
               AS h
      FROM per p CROSS JOIN mom m),
    sse AS (
      SELECT CAST(sum(CAST(floor(e * e * {_COOKS_SCALE}) AS BIGINT))
                  AS BIGINT) AS sse_q
      FROM fit)
    SELECT f.doc_id,
           round(f.e, 4) + 0.0 AS resid,
           round(f.h, 6) + 0.0 AS leverage,
           CASE WHEN f.n > 2 AND s.sse_q > 0 AND f.h < 1.0
                THEN round(f.e * f.e * f.h
                           / (2.0 * (CAST(s.sse_q AS DOUBLE)
                                     / {_COOKS_SCALE} / (f.n - 2))
                              * (1.0 - f.h) * (1.0 - f.h)), 6) + 0.0
                END AS cooks_d
    FROM fit f CROSS JOIN sse s
    """,
)
def q_cooks_distance(spark, sf_dir):
    """OLS influence diagnostics for the corpus length-vs-tokens
    regression: per-document residual, leverage h_i, and Cook's
    distance — the which-documents-drive-the-fit check behind outlier
    triage (complements q_zscore/mad_outliers with a MODEL-based
    notion of anomalous).  Slope/intercept come from exact BIGINT
    moments; the SSE behind the MSE quantizes per-doc squared
    residuals to 1e-6 BIGINTs so it is order-independent; NULL text
    counts as empty.  Plan: per-doc scan + a 1-row moment attach + a
    1-row SSE attach — nothing beyond two tiny broadcasts."""
    from nonconsumptive_spark.functions.text import tokenize

    per = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("x"),
        F.size(tokenize(F.coalesce("text", F.lit("")))).cast("long")
        .alias("y"),
    )
    mom = per.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    beta = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    alpha = (F.col("sy").cast("double") - beta * F.col("sx")) / F.col("n")
    xc = F.col("x") - F.col("sx").cast("double") / F.col("n")
    h = (1.0 / F.col("n")
         + xc * xc / (F.col("sxx").cast("double")
                      - F.col("sx").cast("double") * F.col("sx")
                      / F.col("n")))
    fit = per.crossJoin(F.broadcast(mom)).select(
        "doc_id", "x", "y", "n",
        (F.col("y") - (alpha + beta * F.col("x"))).alias("e"),
        h.alias("h"),
    )
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    fit = materialize_once(fit, "cooks_fit")
    sse = fit.agg(
        F.sum(F.floor(F.col("e") * F.col("e") * _COOKS_SCALE)
              .cast("long")).cast("long").alias("sse_q"))
    mse = (F.col("sse_q").cast("double") / _COOKS_SCALE
           / (F.col("n") - 2))
    return (
        fit.crossJoin(F.broadcast(sse))
        .select(
            "doc_id",
            (F.round(F.col("e"), 4) + F.lit(0.0)).alias("resid"),
            (F.round(F.col("h"), 6) + F.lit(0.0)).alias("leverage"),
            F.when((F.col("n") > 2) & (F.col("sse_q") > 0)
                   & (F.col("h") < 1.0),
                   F.round(F.col("e") * F.col("e") * F.col("h")
                           / (2.0 * mse * (1.0 - F.col("h"))
                              * (1.0 - F.col("h"))), 6) + F.lit(0.0))
            .alias("cooks_d"),
        )
    )


# -- split sample-ratio-mismatch (SRM) check -----------------------------------
# chi2 of observed split sizes against the configured 98/1/1 weights:
# the guard experimentation platforms run on every assignment hash.
# Per-split terms (o*W - n*w)^2 / (n*w*W) have an exact BIGINT
# numerator; each term quantizes to 1e-6 before the 3-term sum.
_SRM_SCALE = 10**6
_SRM_CRIT = 5.991  # chi2(df=2) at 5%


def _srm_oracle() -> str:
    from nonconsumptive_spark.queries.textstats import (
        _SPLIT_CASE, _SPLIT_WEIGHTS)

    wtot = sum(w for _, w in _SPLIT_WEIGHTS)
    wcase = ("CASE " + " ".join(
        f"WHEN split = '{n}' THEN {w}" for n, w in _SPLIT_WEIGHTS)
        + " END")
    return f"""
    WITH asg AS (
      SELECT {_SPLIT_CASE} AS split
      FROM (SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 10000 AS b
            FROM documents)),
    obs AS (
      SELECT split, CAST(count(*) AS BIGINT) AS o FROM asg GROUP BY split),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
    terms AS (
      SELECT split, o, {wcase} AS w, t.n,
             CAST(floor(
               CAST((o * {wtot} - t.n * {wcase})
                    * (o * {wtot} - t.n * {wcase}) AS DOUBLE)
               / (CAST(t.n AS DOUBLE) * {wcase} * {wtot})
               * {_SRM_SCALE}) AS BIGINT) AS tq
      FROM obs CROSS JOIN tot t)
    SELECT any_value(n) AS n_docs,
           CAST(coalesce(sum(CASE WHEN split = 'train' THEN o END), 0)
                AS BIGINT) AS n_train,
           CAST(coalesce(sum(CASE WHEN split = 'val' THEN o END), 0)
                AS BIGINT) AS n_val,
           CAST(coalesce(sum(CASE WHEN split = 'test' THEN o END), 0)
                AS BIGINT) AS n_test,
           round(CAST(sum(tq) AS BIGINT) / {float(_SRM_SCALE)!r}, 6) + 0.0
             AS chi2,
           CAST(sum(tq) AS BIGINT)
             > CAST({_SRM_CRIT} * {_SRM_SCALE} AS BIGINT) AS srm_flag
    FROM terms
    """


@register("q_split_balance", _srm_oracle())
def q_split_balance(spark, sf_dir):
    """Sample-ratio-mismatch check on the deterministic dataset split:
    chi2 of the observed train/val/test counts against the configured
    98/1/1 weights, flagged at the 5% critical value — the assignment-
    hash health check every experimentation platform runs (a biased
    hash silently skews every downstream eval).  See the header note
    for the exact-integer chi2 terms.  Plan: one split agg (3 rows),
    then constant-sized arithmetic."""
    from nonconsumptive_spark.operators import textstats as ts
    from nonconsumptive_spark.queries.textstats import _SPLIT_WEIGHTS

    wtot = sum(w for _, w in _SPLIT_WEIGHTS)
    wmap = dict(_SPLIT_WEIGHTS)
    obs = (
        ts.dataset_split(load(spark, sf_dir, "documents"), _SPLIT_WEIGHTS)
        .groupBy("split")
        .agg(F.count("*").cast("long").alias("o"))
    )
    tot = obs.agg(F.sum("o").cast("long").alias("n"))
    wcol = F.when(F.col("split") == "train", F.lit(wmap["train"]))
    for name, w in _SPLIT_WEIGHTS[1:]:
        wcol = wcol.when(F.col("split") == name, F.lit(w))
    num = F.col("o") * wtot - F.col("n") * wcol
    tq = F.floor(
        (num * num).cast("double")
        / (F.col("n").cast("double") * wcol * wtot) * _SRM_SCALE
    ).cast("long")
    terms = obs.crossJoin(F.broadcast(tot)).select(
        "split", "o", "n", tq.alias("tq"))
    return terms.agg(
        F.first("n").alias("n_docs"),
        F.coalesce(F.sum(F.when(F.col("split") == "train", F.col("o"))),
                   F.lit(0)).cast("long").alias("n_train"),
        F.coalesce(F.sum(F.when(F.col("split") == "val", F.col("o"))),
                   F.lit(0)).cast("long").alias("n_val"),
        F.coalesce(F.sum(F.when(F.col("split") == "test", F.col("o"))),
                   F.lit(0)).cast("long").alias("n_test"),
        (F.round(F.sum("tq").cast("long") / F.lit(float(_SRM_SCALE)), 6)
         + F.lit(0.0)).alias("chi2"),
        (F.sum("tq").cast("long")
         > int(_SRM_CRIT * _SRM_SCALE)).alias("srm_flag"),
    )


# -- one-way ANOVA on document length across sources ---------------------------
# The parametric twin of q_kruskal_wallis, sharing its quantized-term
# discipline: per-group squared-sum terms pass through ONE mirrored
# floor(x*SCALE) before the cross-group sum, so F / eta^2 / omega^2
# replay under any aggregation order.
_ANOVA_SCALE = 1000


@register(
    "q_anova_oneway",
    f"""
    WITH grp AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(n_chars) AS BIGINT) AS s_g,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS ssq_g
      FROM documents GROUP BY source),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(s_g) AS BIGINT) AS s,
             CAST(sum(ssq_g) AS BIGINT) AS ssq,
             CAST(sum(CAST(floor(CAST(s_g AS DOUBLE) * s_g / n_g
                                 * {_ANOVA_SCALE}) AS BIGINT)) AS BIGINT)
               AS q1
      FROM grp)
    SELECT k AS n_groups, n AS n_total,
           round((q1 / {float(_ANOVA_SCALE)!r}
                  - CAST(s AS DOUBLE) * s / n)
                 / (k - 1)
                 / ((CAST(ssq AS DOUBLE) - q1 / {float(_ANOVA_SCALE)!r})
                    / (n - k)), 4) + 0.0 AS f_stat,
           round((q1 / {float(_ANOVA_SCALE)!r}
                  - CAST(s AS DOUBLE) * s / n)
                 / (CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * s / n), 6)
             + 0.0 AS eta_sq,
           round((q1 / {float(_ANOVA_SCALE)!r}
                  - CAST(s AS DOUBLE) * s / n
                  - (k - 1) * ((CAST(ssq AS DOUBLE)
                                - q1 / {float(_ANOVA_SCALE)!r}) / (n - k)))
                 / (CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * s / n
                    + (CAST(ssq AS DOUBLE) - q1 / {float(_ANOVA_SCALE)!r})
                      / (n - k)), 6) + 0.0 AS omega_sq
    FROM agg
    """,
)
def q_anova_oneway(spark, sf_dir):
    """One-way ANOVA of document length across sources: F statistic plus
    the eta^2 and bias-corrected omega^2 effect sizes — the parametric
    twin of q_kruskal_wallis (see header note for the shared quantized-
    term exactness).  Plan: one per-source moment agg + one 1-row agg;
    nothing scales past the source count."""
    grp = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_g"),
             F.sum("n_chars").cast("long").alias("s_g"),
             F.sum(F.col("n_chars") * F.col("n_chars")).cast("long")
             .alias("ssq_g"))
    )
    agg = grp.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("ssq_g").cast("long").alias("ssq"),
        F.sum(F.floor(F.col("s_g").cast("double") * F.col("s_g")
                      / F.col("n_g") * _ANOVA_SCALE).cast("long"))
        .cast("long").alias("q1"),
    )
    sc = float(_ANOVA_SCALE)
    ssb = F.col("q1") / sc - F.col("s").cast("double") * F.col("s") / F.col("n")
    ssw = F.col("ssq").cast("double") - F.col("q1") / sc
    sst = (F.col("ssq").cast("double")
           - F.col("s").cast("double") * F.col("s") / F.col("n"))
    msw = ssw / (F.col("n") - F.col("k"))
    return agg.select(
        F.col("k").alias("n_groups"), F.col("n").alias("n_total"),
        (F.round(ssb / (F.col("k") - 1) / msw, 4) + F.lit(0.0))
        .alias("f_stat"),
        (F.round(ssb / sst, 6) + F.lit(0.0)).alias("eta_sq"),
        (F.round((ssb - (F.col("k") - 1) * msw) / (sst + msw), 6)
         + F.lit(0.0)).alias("omega_sq"),
    )


# -- Cramér's V for lang x source association ----------------------------------
_CV_SCALE = 10**6


@register(
    "q_cramers_v",
    f"""
    WITH cells AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source),
    ml AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY lang),
    ms AS (SELECT source, CAST(sum(o) AS BIGINT) AS c
           FROM cells GROUP BY source),
    nt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    grid AS (
      SELECT ml.lang, ms.source, ml.r, ms.c, nt.n,
             CAST(coalesce(x.o, 0) AS BIGINT) AS o
      FROM ml CROSS JOIN ms CROSS JOIN nt
      LEFT JOIN cells x ON x.lang = ml.lang AND x.source = ms.source),
    terms AS (
      SELECT n,
             CAST(floor(CAST(o * n - r * c AS DOUBLE)
                        * (o * n - r * c)
                        / (CAST(n AS DOUBLE) * r * c)
                        * {_CV_SCALE}) AS BIGINT) AS tq
      FROM grid),
    dims AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM ml) AS nl,
             (SELECT CAST(count(*) AS BIGINT) FROM ms) AS ns)
    SELECT any_value(t.n) AS n_docs, d.nl AS n_langs, d.ns AS n_sources,
           round(CAST(sum(t.tq) AS BIGINT) / {float(_CV_SCALE)!r}, 4) + 0.0
             AS chi2,
           round(sqrt(CAST(sum(t.tq) AS BIGINT) / {float(_CV_SCALE)!r}
                      / any_value(t.n)
                      / least(d.nl - 1, d.ns - 1)), 6) + 0.0 AS cramers_v
    FROM terms t CROSS JOIN dims d
    GROUP BY d.nl, d.ns
    """,
)
def q_cramers_v(spark, sf_dir):
    """Cramér's V for the lang x source contingency: the normalized
    [0, 1] association strength (how strongly does source determine
    language), the effect-size companion to q_lang_source_chi2's test
    statistic.  Per-cell chi2 terms use the exact BIGINT numerator
    (o*N - r*c)^2 over the full grid including empty cells, quantized
    before the sum.  Plan: one cell agg, then everything is
    #langs x #sources-sized with 1-row attaches."""
    cells = (
        load(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").cast("long").alias("o"))
    )
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    cells = materialize_once(cells, "cv_cells")
    ml = cells.groupBy("lang").agg(F.sum("o").cast("long").alias("r"))
    ms = cells.groupBy("source").agg(F.sum("o").cast("long").alias("c"))
    nt = cells.agg(F.sum("o").cast("long").alias("n"))
    grid = (
        ml.crossJoin(F.broadcast(ms))
        .crossJoin(F.broadcast(nt))
        .join(cells, ["lang", "source"], "left")
        .select("lang", "source", "r", "c", "n",
                F.coalesce("o", F.lit(0)).cast("long").alias("o"))
    )
    num = F.col("o") * F.col("n") - F.col("r") * F.col("c")
    tq = F.floor(
        num.cast("double") * num
        / (F.col("n").cast("double") * F.col("r") * F.col("c"))
        * _CV_SCALE).cast("long")
    dims = ml.agg(F.count("*").cast("long").alias("nl")).crossJoin(
        F.broadcast(ms.agg(F.count("*").cast("long").alias("ns"))))
    terms = grid.select("n", tq.alias("tq"))
    sc = float(_CV_SCALE)
    return (
        terms.crossJoin(F.broadcast(dims))
        .groupBy("nl", "ns")
        .agg(F.first("n").alias("n_docs"),
             F.sum("tq").cast("long").alias("sq"))
        .select(
            "n_docs", F.col("nl").alias("n_langs"),
            F.col("ns").alias("n_sources"),
            (F.round(F.col("sq") / sc, 4) + F.lit(0.0)).alias("chi2"),
            (F.round(F.sqrt(F.col("sq") / sc / F.col("n_docs")
                            / F.least(F.col("nl") - 1, F.col("ns") - 1)),
                     6) + F.lit(0.0)).alias("cramers_v"),
        )
    )


# -- skewness / kurtosis by source ----------------------------------------------
@register(
    "q_higher_moments",
    """
    WITH mom AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS s1,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS s2,
             CAST(sum(n_chars * n_chars * n_chars) AS BIGINT) AS s3,
             CAST(sum(n_chars * n_chars * n_chars * n_chars) AS BIGINT)
               AS s4
      FROM documents GROUP BY source)
    SELECT source, n,
           round(CAST(s1 AS DOUBLE) / n, 4) + 0.0 AS mean,
           round(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                      / n), 4) + 0.0 AS std_pop,
           CASE WHEN (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / n
                     > 0
                THEN round((CAST(s3 AS DOUBLE) / n
                            - 3 * (CAST(s1 AS DOUBLE) / n)
                              * ((CAST(s2 AS DOUBLE)
                                  - CAST(s1 AS DOUBLE) * s1 / n) / n)
                            - (CAST(s1 AS DOUBLE) / n)
                              * (CAST(s1 AS DOUBLE) / n)
                              * (CAST(s1 AS DOUBLE) / n))
                           / pow(sqrt((CAST(s2 AS DOUBLE)
                                       - CAST(s1 AS DOUBLE) * s1 / n) / n),
                                 3), 4) + 0.0 END AS skewness,
           CASE WHEN (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / n
                     > 0
                THEN round((CAST(s4 AS DOUBLE) / n
                            - 4 * (CAST(s1 AS DOUBLE) / n)
                              * (CAST(s3 AS DOUBLE) / n)
                            + 6 * (CAST(s1 AS DOUBLE) / n)
                              * (CAST(s1 AS DOUBLE) / n)
                              * (CAST(s2 AS DOUBLE) / n)
                            - 3 * (CAST(s1 AS DOUBLE) / n)
                              * (CAST(s1 AS DOUBLE) / n)
                              * (CAST(s1 AS DOUBLE) / n)
                              * (CAST(s1 AS DOUBLE) / n))
                           / (((CAST(s2 AS DOUBLE)
                                - CAST(s1 AS DOUBLE) * s1 / n) / n)
                              * ((CAST(s2 AS DOUBLE)
                                  - CAST(s1 AS DOUBLE) * s1 / n) / n))
                           - 3.0, 4) + 0.0 END AS excess_kurtosis
    FROM mom
    """,
)
def q_higher_moments(spark, sf_dir):
    """Population skewness and excess kurtosis of document length per
    source, from exact BIGINT raw moments (s1..s4) via the central-
    moment expansions m3 = E[x^3] - 3*mu*var - mu^3 and m4 = E[x^4]
    - 4*mu*E[x^3] + 6*mu^2*E[x^2] - 3*mu^4 — the shape diagnostics
    behind "is this source's length distribution heavy-tailed", one
    mirrored float chain each.  Plan: one per-source moment agg;
    nothing scales past the source count."""
    mom = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("s1"),
            F.sum(F.col("n_chars") * F.col("n_chars")).cast("long")
            .alias("s2"),
            F.sum(F.col("n_chars") * F.col("n_chars") * F.col("n_chars"))
            .cast("long").alias("s3"),
            F.sum(F.col("n_chars") * F.col("n_chars") * F.col("n_chars")
                  * F.col("n_chars")).cast("long").alias("s4"),
        )
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    var = (F.col("s2").cast("double")
           - F.col("s1").cast("double") * F.col("s1") / n) / n
    m3 = (F.col("s3").cast("double") / n - 3 * mu * var - mu * mu * mu)
    m4 = (F.col("s4").cast("double") / n
          - 4 * mu * (F.col("s3").cast("double") / n)
          + 6 * mu * mu * (F.col("s2").cast("double") / n)
          - 3 * mu * mu * mu * mu)
    return mom.select(
        "source", "n",
        (F.round(mu, 4) + F.lit(0.0)).alias("mean"),
        (F.round(F.sqrt(var), 4) + F.lit(0.0)).alias("std_pop"),
        F.when(var > 0,
               F.round(m3 / F.pow(F.sqrt(var), 3), 4) + F.lit(0.0))
        .alias("skewness"),
        F.when(var > 0,
               F.round(m4 / (var * var) - 3.0, 4) + F.lit(0.0))
        .alias("excess_kurtosis"),
    )


# -- Cohen's d / Hedges' g effect sizes per source pair ----------------------
# per-source exact moments (columns n, s, ss); pair columns n1.. / n2..
_D_M = "CAST(s AS DOUBLE) / n"
_D_V = "(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)"
_D_POOL = "sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))"
_D_D = f"round((m1 - m2) / {_D_POOL}, 6) + 0.0"
_D_G = (f"round(((m1 - m2) / {_D_POOL})"
        " * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6) + 0.0")


@register(
    "q_cohens_d_sources",
    f"""
    WITH mom AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS s,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS ss
      FROM documents GROUP BY source),
    sided AS (SELECT source, n, {_D_M} AS m, {_D_V} AS v FROM mom),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.n AS n1, a.m AS m1, a.v AS v1,
             b.n AS n2, b.m AS m2, b.v AS v2
      FROM sided a JOIN sided b ON a.source < b.source)
    SELECT source_a, source_b,
           CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
           {_D_D} AS cohens_d, {_D_G} AS hedges_g
    FROM pairs
    """,
)
def q_cohens_d_sources(spark, sf_dir):
    """Pooled-SD standardized mean difference (Cohen's d) + the small-
    sample Hedges' g correction for document length between every source
    pair — the effect-size companion to q_welch_ttest_sources (a t-test
    says IF lengths differ; d says by HOW MUCH in SD units).  Moments
    are one exact BIGINT agg per source; every float is a mirrored
    expression over those integers; pair frame = the #sources^2
    broadcast self-join."""
    mom = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("s"),
            F.sum(F.col("n_chars") * F.col("n_chars")).cast("long")
            .alias("ss"),
        )
    )
    sided = mom.selectExpr("source", "n", f"{_D_M} AS m", f"{_D_V} AS v")
    a = sided.select(F.col("source").alias("source_a"),
                     F.col("n").alias("n1"), F.col("m").alias("m1"),
                     F.col("v").alias("v1"))
    b = sided.select(F.col("source").alias("source_b"),
                     F.col("n").alias("n2"), F.col("m").alias("m2"),
                     F.col("v").alias("v2"))
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("source_a") < F.col("source_b"))
        .selectExpr(
            "source_a", "source_b",
            "CAST(n1 AS BIGINT) AS n_a", "CAST(n2 AS BIGINT) AS n_b",
            f"{_D_D} AS cohens_d", f"{_D_G} AS hedges_g",
        )
    )


# -- seeded two-sample permutation test ---------------------------------------
_PERM_R = 200
_PERM_SCALE = 1_000_000


def _perm_oracle() -> str:
    # replica r assigns doc i to group A iff bit 0 of the portable 60-bit
    # md5(doc_id || ':' || r) is 0; the test statistic is
    # floor(|mean_A - mean_B| * 1e6) — two exact-integer divisions, one
    # subtract, abs, scale, floor: identical IEEE chains on both engines
    q = (lambda sa, na, sb, nb:
         f"CASE WHEN {na} > 0 AND {nb} > 0 THEN "
         f"CAST(floor(abs(CAST({sa} AS DOUBLE) / {na}"
         f" - CAST({sb} AS DOUBLE) / {nb}) * {_PERM_SCALE}) AS BIGINT)"
         f" ELSE NULL END")
    return f"""
    WITH srcs AS (
      SELECT source FROM documents GROUP BY source ORDER BY source LIMIT 2),
    sa AS (SELECT min(source) AS s FROM srcs),
    base AS (
      SELECT d.doc_id, d.source,
             CAST(coalesce(d.n_chars, 0) AS BIGINT) AS x
      FROM documents d SEMI JOIN srcs s ON d.source = s.source),
    obs AS (
      SELECT CAST(sum(CASE WHEN source = (SELECT s FROM sa)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN source = (SELECT s FROM sa)
                           THEN x ELSE 0 END) AS BIGINT) AS s_a,
             CAST(count(*) AS BIGINT) AS n_t,
             CAST(sum(x) AS BIGINT) AS s_t
      FROM base),
    obsq AS (
      SELECT n_a, n_t - n_a AS n_b,
             {q('s_a', 'n_a', '(s_t - s_a)', '(n_t - n_a)')} AS diff_obs_q
      FROM obs),
    reps AS (
      SELECT r,
             CAST(sum(CASE WHEN bit = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN bit = 0 THEN x ELSE 0 END) AS BIGINT) AS s_a,
             CAST(count(*) AS BIGINT) AS n_t,
             CAST(sum(x) AS BIGINT) AS s_t
      FROM (
        SELECT b.x, t.r,
               CAST(('0x' || substr(md5(CAST(b.doc_id AS VARCHAR) || ':'
                     || CAST(t.r AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS bit
        FROM base b, range(1, {_PERM_R} + 1) t(r))
      GROUP BY r),
    repq AS (
      SELECT r, {q('s_a', 'n_a', '(s_t - s_a)', '(n_t - n_a)')} AS diff_q
      FROM reps)
    SELECT o.n_a, o.n_b, o.diff_obs_q,
           CAST(count(p.diff_q) AS BIGINT) AS n_eff,
           CAST(sum(CASE WHEN p.diff_q >= o.diff_obs_q THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ge,
           round(CAST(sum(CASE WHEN p.diff_q >= o.diff_obs_q
                               THEN 1 ELSE 0 END) + 1 AS DOUBLE)
                 / (count(p.diff_q) + 1), 6) + 0.0 AS p_value
    FROM repq p CROSS JOIN obsq o
    GROUP BY o.n_a, o.n_b, o.diff_obs_q
    """


@register("q_permutation_test", _perm_oracle())
def q_permutation_test(spark, sf_dir):
    """Seeded two-sample permutation test for mean document length
    (n_chars) between the two lexicographically-first sources: replica r
    reassigns every doc by bit 0 of the portable 60-bit
    md5(doc_id ':' r), the statistic is the 1e-6-floored |mean diff|,
    and p = (#replicas >= observed + 1)/(R + 1) — the distribution-free
    significance check beside the parametric Welch battery.  Scale:
    docs x R rows collapse through ONE map-side-combined R-group agg
    (R = 200 output rows), then 1-row attaches; nothing after the agg
    scales with the corpus."""
    docs = load(spark, sf_dir, "documents")
    srcs = (docs.groupBy("source").agg(F.lit(1).alias("__o"))
            .orderBy("source").limit(2).select("source"))
    base = (
        docs.join(F.broadcast(srcs), "source", "left_semi")
        .select("source", "doc_id",
                F.coalesce(F.col("n_chars"), F.lit(0)).cast("long")
                .alias("x"))
    )
    base = base.crossJoin(
        F.broadcast(srcs.agg(F.min("source").alias("s"))))

    def diffq(sa, na, sb, nb):
        return F.when(
            (na > 0) & (nb > 0),
            F.floor(F.abs(sa.cast("double") / na - sb.cast("double") / nb)
                    * _PERM_SCALE).cast("long"),
        ).otherwise(F.lit(None).cast("long"))

    obs = base.agg(
        F.sum(F.when(F.col("source") == F.col("s"), 1).otherwise(0))
        .cast("long").alias("n_a"),
        F.sum(F.when(F.col("source") == F.col("s"), F.col("x"))
              .otherwise(0)).cast("long").alias("s_a"),
        F.count("*").cast("long").alias("n_t"),
        F.sum("x").cast("long").alias("s_t"),
    )
    obsq = obs.select(
        "n_a", (F.col("n_t") - F.col("n_a")).alias("n_b"),
        diffq(F.col("s_a"), F.col("n_a"),
              F.col("s_t") - F.col("s_a"),
              F.col("n_t") - F.col("n_a")).alias("diff_obs_q"),
    )
    bit = (
        F.conv(F.substring(F.md5(F.concat(
            F.col("doc_id").cast("string"), F.lit(":"),
            F.col("r").cast("string"))), 1, 15), 16, 10).cast("long") % 2
    )
    reps = (
        base.select("doc_id", "x",
                    F.explode(F.sequence(F.lit(1), F.lit(_PERM_R)))
                    .alias("r"))
        .select("x", "r", bit.alias("bit"))
        .groupBy("r")
        .agg(
            F.sum(F.when(F.col("bit") == 0, 1).otherwise(0))
            .cast("long").alias("n_a"),
            F.sum(F.when(F.col("bit") == 0, F.col("x")).otherwise(0))
            .cast("long").alias("s_a"),
            F.count("*").cast("long").alias("n_t"),
            F.sum("x").cast("long").alias("s_t"),
        )
    )
    repq = reps.select(
        "r",
        diffq(F.col("s_a"), F.col("n_a"),
              F.col("s_t") - F.col("s_a"),
              F.col("n_t") - F.col("n_a")).alias("diff_q"),
    )
    return (
        repq.crossJoin(F.broadcast(obsq))  # 1-row observed attach
        .groupBy("n_a", "n_b", "diff_obs_q")
        .agg(
            F.count("diff_q").cast("long").alias("n_eff"),
            F.sum(F.when(F.col("diff_q") >= F.col("diff_obs_q"), 1)
                  .otherwise(0)).cast("long").alias("n_ge"),
            (F.round(
                (F.sum(F.when(F.col("diff_q") >= F.col("diff_obs_q"), 1)
                       .otherwise(0)) + F.lit(1)).cast("double")
                / (F.count("diff_q") + F.lit(1)), 6) + F.lit(0.0))
            .alias("p_value"),
        )
        .select("n_a", "n_b", "diff_obs_q", "n_eff", "n_ge", "p_value")
    )


# -- Grubbs-style extreme outlier per source ----------------------------------
_GRUBBS_FLAG = 3.0


@register(
    "q_grubbs_outlier",
    f"""
    WITH mom AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS s,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS ss
      FROM documents GROUP BY source),
    dev AS (
      SELECT d.source, d.doc_id, CAST(d.n_chars AS BIGINT) AS x,
             abs(CAST(d.n_chars AS BIGINT) * m.n - m.s) AS devq,
             m.n, m.s, m.ss
      FROM documents d JOIN mom m USING (source)),
    top AS (
      SELECT source, doc_id, x, devq, n, s, ss,
             row_number() OVER (PARTITION BY source
                                ORDER BY devq DESC, doc_id ASC) AS rn
      FROM dev)
    SELECT source, n, doc_id, x,
           round(CAST(devq AS DOUBLE) / n
                 / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                        / (n - 1)), 6) + 0.0 AS g_stat,
           CAST(devq AS DOUBLE) / n
             / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                    / (n - 1)) > {_GRUBBS_FLAG} AS is_extreme
    FROM top WHERE rn = 1
    """,
)
def q_grubbs_outlier(spark, sf_dir):
    """Grubbs-style single-outlier statistic per source: the maximum
    |x - mean|/sd of document length, with the arg-max document
    identified.  The arg-max is located on the EXACT integer deviation
    |x*n - s| (so ranking never touches a float), ties break on doc_id;
    the G statistic divides once by n and once by the mirrored sample
    SD at emit.  is_extreme flags G > 3 (a plain threshold, documented —
    not the t-based critical value).  Plan: one moment agg + broadcast
    moment join + one per-source top-1 window."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    mom = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("ss"),
    )
    dev = (
        docs.join(F.broadcast(mom), "source")
        .select(
            "source", "doc_id", F.col("n_chars").cast("long").alias("x"),
            F.abs(F.col("n_chars").cast("long") * F.col("n") - F.col("s"))
            .alias("devq"),
            "n", "s", "ss",
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("devq"), F.asc("doc_id"))
    sd = F.sqrt((F.col("ss").cast("double")
                 - F.col("s").cast("double") * F.col("s") / F.col("n"))
                / (F.col("n") - 1))
    g = F.col("devq").cast("double") / F.col("n") / sd
    return (
        dev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "source", "n", "doc_id", "x",
            (F.round(g, 6) + F.lit(0.0)).alias("g_stat"),
            (g > _GRUBBS_FLAG).alias("is_extreme"),
        )
    )


# -- McNemar paired test: stopword lang-id vs majority baseline ---------------
def _mcnemar_oracle() -> str:
    from nonconsumptive_spark.queries.textstats import _CASE_PRED, _HIT_EXPRS, _LANGS

    g = ", ".join("hits_" + lg for lg in _LANGS)
    return f"""
    WITH maj AS (
      SELECT lang AS maj_lang FROM documents
      GROUP BY lang ORDER BY count(*) DESC, lang ASC LIMIT 1),
    pred AS (
      SELECT doc_id, lang, {_CASE_PRED} AS pred_lang
      FROM (
        SELECT doc_id, lang, greatest({g}) AS m, {g}
        FROM (
          SELECT doc_id, lang,
{_HIT_EXPRS}
          FROM (SELECT doc_id, lang, coalesce(text, '') AS text
                FROM documents) documents))),
    cells AS (
      SELECT CAST(sum(CASE WHEN pred_lang = lang
                            AND maj_lang <> lang THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(sum(CASE WHEN pred_lang <> lang
                            AND maj_lang = lang THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(count(*) AS BIGINT) AS n
      FROM pred CROSS JOIN maj)
    SELECT n, b, c,
           CASE WHEN b + c > 0
                THEN round(CAST((b - c) * (b - c) AS DOUBLE) / (b + c), 6)
                     + 0.0
                ELSE 0.0 END AS mcnemar_chi2
    FROM cells
    """


@register("q_mcnemar_langid", _mcnemar_oracle())
def q_mcnemar_langid(spark, sf_dir):
    """McNemar's paired test: does the stopword-vote language identifier
    beat the majority-class baseline on the SAME documents?  b/c are the
    exact discordant-pair counts (only-langid-right / only-baseline-
    right) and chi2 = (b-c)^2/(b+c) is one integer-exact ratio — the
    paired sibling of the independent-sample test battery.  Plan: the
    zero-shuffle lang-id scan + a 1-row majority-label attach + one
    1-row agg."""
    from nonconsumptive_spark.operators import textstats as ts

    docs = load(spark, sf_dir, "documents")
    maj = (docs.groupBy("lang").agg(F.count("*").alias("n"))
           .orderBy(F.desc("n"), F.asc("lang")).limit(1)
           .select(F.col("lang").alias("maj_lang")))
    # label carried through the lang-id projection — no doc-keyed join
    # back to the corpus for a column this scan already read (r8)
    joined = (
        ts.lang_id(docs, extra_cols=("lang",))
        .crossJoin(F.broadcast(maj))
    )
    b = F.sum(F.when((F.col("pred_lang") == F.col("lang"))
                     & (F.col("maj_lang") != F.col("lang")), 1)
              .otherwise(0)).cast("long")
    c = F.sum(F.when((F.col("pred_lang") != F.col("lang"))
                     & (F.col("maj_lang") == F.col("lang")), 1)
              .otherwise(0)).cast("long")
    cells = joined.agg(F.count("*").cast("long").alias("n"),
                       b.alias("b"), c.alias("c"))
    return cells.select(
        "n", "b", "c",
        F.when(F.col("b") + F.col("c") > 0,
               F.round(((F.col("b") - F.col("c"))
                        * (F.col("b") - F.col("c"))).cast("double")
                       / (F.col("b") + F.col("c")), 6) + F.lit(0.0))
        .otherwise(F.lit(0.0)).alias("mcnemar_chi2"),
    )


# -- Mantel-Haenszel stratified odds ratio -------------------------------------
_MH_SCALE = 1_000_000
_MH_LONG_DOC = 500  # outcome: n_chars >= this literal


def _mh_oracle() -> str:
    return f"""
    WITH lab AS (
      SELECT min(source) AS sa
      FROM (SELECT source FROM documents GROUP BY source
            ORDER BY source LIMIT 1)),
    cells AS (
      SELECT lang,
             CAST(sum(CASE WHEN exposed AND long_doc THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(sum(CASE WHEN exposed AND NOT long_doc THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(sum(CASE WHEN NOT exposed AND long_doc THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(sum(CASE WHEN NOT exposed AND NOT long_doc THEN 1 ELSE 0 END)
                  AS BIGINT) AS d
      FROM (SELECT d.lang, d.source = (SELECT sa FROM lab) AS exposed,
                   coalesce(d.n_chars, 0) >= {_MH_LONG_DOC} AS long_doc
            FROM documents d)
      GROUP BY lang),
    terms AS (
      SELECT CAST(floor(CAST(a * d AS DOUBLE) / (a + b + c + d)
                        * {_MH_SCALE}) AS BIGINT) AS adq,
             CAST(floor(CAST(b * c AS DOUBLE) / (a + b + c + d)
                        * {_MH_SCALE}) AS BIGINT) AS bcq
      FROM cells WHERE a + b + c + d > 0)
    SELECT CAST(count(*) AS BIGINT) AS n_strata,
           CAST(sum(adq) AS BIGINT) AS sum_ad_q,
           CAST(sum(bcq) AS BIGINT) AS sum_bc_q,
           CASE WHEN sum(bcq) > 0
                THEN round(CAST(sum(adq) AS DOUBLE) / sum(bcq), 6) + 0.0
                ELSE 0.0 END AS mh_odds_ratio
    FROM terms
    """


@register("q_mantel_haenszel", _mh_oracle())
def q_mantel_haenszel(spark, sf_dir):
    """Mantel-Haenszel common odds ratio across lang strata: is the
    first source's long-document rate elevated CONSISTENTLY once
    language is controlled for?  The stratified 2x2 battery member
    beside the marginal chi2/MI grid — Simpson's-paradox-proof where the
    pooled table is not.  Each stratum's a*d/n and b*c/n term quantizes
    to a 1e-6 BIGINT before the cross-stratum sums (strata counts bound
    a*d < 2^53/scale — documented).  Plan: one (lang)-keyed agg over a
    zero-shuffle scan + one #strata-row agg."""
    docs = load(spark, sf_dir, "documents")
    lab = (docs.groupBy("source").agg(F.lit(1).alias("__o"))
           .orderBy("source").limit(1)
           .select(F.col("source").alias("sa")))
    base = docs.crossJoin(F.broadcast(lab)).select(
        "lang",
        (F.col("source") == F.col("sa")).alias("exposed"),
        (F.coalesce(F.col("n_chars"), F.lit(0)) >= _MH_LONG_DOC)
        .alias("long_doc"),
    )
    cells = base.groupBy("lang").agg(
        F.sum((F.col("exposed") & F.col("long_doc")).cast("long"))
        .cast("long").alias("a"),
        F.sum((F.col("exposed") & ~F.col("long_doc")).cast("long"))
        .cast("long").alias("b"),
        F.sum((~F.col("exposed") & F.col("long_doc")).cast("long"))
        .cast("long").alias("c"),
        F.sum((~F.col("exposed") & ~F.col("long_doc")).cast("long"))
        .cast("long").alias("d"),
    )
    n_i = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    terms = cells.filter(n_i > 0).select(
        F.floor((F.col("a") * F.col("d")).cast("double") / n_i
                * _MH_SCALE).cast("long").alias("adq"),
        F.floor((F.col("b") * F.col("c")).cast("double") / n_i
                * _MH_SCALE).cast("long").alias("bcq"),
    )
    return terms.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.sum("adq").cast("long").alias("sum_ad_q"),
        F.sum("bcq").cast("long").alias("sum_bc_q"),
        F.when(F.sum("bcq") > 0,
               F.round(F.sum("adq").cast("double") / F.sum("bcq"), 6)
               + F.lit(0.0)).otherwise(F.lit(0.0)).alias("mh_odds_ratio"),
    )


# -- von Neumann successive-difference ratio ------------------------------------
@register(
    "q_von_neumann_ratio",
    """
    WITH days AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1),
    seq AS (
      SELECT x, lead(x) OVER (ORDER BY day) AS nx
      FROM days),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(x * x) AS BIGINT) AS ss,
             CAST(sum(CASE WHEN nx IS NOT NULL
                           THEN (nx - x) * (nx - x) ELSE 0 END)
                  AS BIGINT) AS sd2
      FROM seq)
    SELECT n, sd2,
           CAST(n * ss - s * s AS BIGINT) AS ssq_n,
           round(CAST(sd2 AS DOUBLE) / (n - 1)
                 / (CAST(n * ss - s * s AS DOUBLE) / (n * CAST(n AS DOUBLE)
                    - n)), 6) + 0.0 AS vn_ratio
    FROM mom
    """,
)
def q_von_neumann_ratio(spark, sf_dir):
    """Von Neumann ratio of the daily event-count series: mean squared
    successive difference over the sample variance — ~2 for a random
    series, < 2 under positive trend/autocorrelation, > 2 under
    oscillation; the classic third randomness screen beside the runs
    test and Mann-Kendall.  Numerator and the n*ss - s^2 variance
    kernel are exact BIGINTs off one day agg + one lead window over the
    day spine; the ratio is one mirrored chain."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    days = (ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.count("*").cast("long").alias("x")))
    w = Window.orderBy("day")
    seq = days.select("x", F.lead("x").over(w).alias("nx"))
    mom = seq.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"),
        F.sum(F.when(F.col("nx").isNotNull(),
                     (F.col("nx") - F.col("x"))
                     * (F.col("nx") - F.col("x"))).otherwise(0))
        .cast("long").alias("sd2"),
    )
    ssq_n = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    return mom.select(
        "n", "sd2", ssq_n.cast("long").alias("ssq_n"),
        (F.round(F.col("sd2").cast("double") / (F.col("n") - 1)
                 / (ssq_n.cast("double")
                    / (F.col("n") * F.col("n").cast("double") - F.col("n"))),
                 6) + F.lit(0.0)).alias("vn_ratio"),
    )


# -- Simpson's-paradox flip detector --------------------------------------------
@register(
    "q_simpson_flip",
    f"""
    WITH lab AS (
      SELECT min(source) AS sa
      FROM (SELECT source FROM documents GROUP BY source
            ORDER BY source LIMIT 1)),
    cells AS (
      SELECT lang,
             CAST(sum(CASE WHEN exposed AND long_doc THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(sum(CASE WHEN exposed AND NOT long_doc THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(sum(CASE WHEN NOT exposed AND long_doc THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(sum(CASE WHEN NOT exposed AND NOT long_doc
                           THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM (SELECT d.lang, d.source = (SELECT sa FROM lab) AS exposed,
                   coalesce(d.n_chars, 0) >= 500 AS long_doc
            FROM documents d)
      GROUP BY lang),
    marg AS (
      SELECT CAST(sum(a) AS BIGINT) AS a, CAST(sum(b) AS BIGINT) AS b,
             CAST(sum(c) AS BIGINT) AS c, CAST(sum(d) AS BIGINT) AS d
      FROM cells)
    SELECT s.lang, s.a, s.b, s.c, s.d,
           s.a * (s.c + s.d) > s.c * (s.a + s.b) AS stratum_favors_exposed,
           m.a * (m.c + m.d) > m.c * (m.a + m.b) AS marginal_favors_exposed,
           (s.a * (s.c + s.d) > s.c * (s.a + s.b))
             <> (m.a * (m.c + m.d) > m.c * (m.a + m.b)) AS flipped
    FROM cells s CROSS JOIN marg m
    """,
)
def q_simpson_flip(spark, sf_dir):
    """Simpson's-paradox audit for the Mantel-Haenszel setup: per lang
    stratum, does the long-document rate direction between the first
    source and the rest DISAGREE with the pooled (marginal) direction?
    Direction is decided by the exact integer cross-multiplication
    a*(c+d) > c*(a+b) (rate comparison without a float), so a stratum
    row flags `flipped` exactly when aggregation would mislead.  Plan:
    one lang agg on a zero-shuffle scan + a 1-row marginal attach."""
    docs = load(spark, sf_dir, "documents")
    lab = (docs.groupBy("source").agg(F.lit(1).alias("__o"))
           .orderBy("source").limit(1)
           .select(F.col("source").alias("sa")))
    base = docs.crossJoin(F.broadcast(lab)).select(
        "lang",
        (F.col("source") == F.col("sa")).alias("exposed"),
        (F.coalesce(F.col("n_chars"), F.lit(0)) >= 500).alias("long_doc"),
    )
    cells = base.groupBy("lang").agg(
        F.sum((F.col("exposed") & F.col("long_doc")).cast("long"))
        .cast("long").alias("a"),
        F.sum((F.col("exposed") & ~F.col("long_doc")).cast("long"))
        .cast("long").alias("b"),
        F.sum((~F.col("exposed") & F.col("long_doc")).cast("long"))
        .cast("long").alias("c"),
        F.sum((~F.col("exposed") & ~F.col("long_doc")).cast("long"))
        .cast("long").alias("d"),
    )
    from nonconsumptive_spark.plans.checkpoint import materialize_once
    cells = materialize_once(cells, "simpson_cells")
    marg = cells.agg(F.sum("a").cast("long").alias("ma"),
                     F.sum("b").cast("long").alias("mb"),
                     F.sum("c").cast("long").alias("mc"),
                     F.sum("d").cast("long").alias("md"))
    sdir = (F.col("a") * (F.col("c") + F.col("d"))
            > F.col("c") * (F.col("a") + F.col("b")))
    mdir = (F.col("ma") * (F.col("mc") + F.col("md"))
            > F.col("mc") * (F.col("ma") + F.col("mb")))
    return (
        cells.crossJoin(F.broadcast(marg))  # 1-row marginal attach
        .select("lang", "a", "b", "c", "d",
                sdir.alias("stratum_favors_exposed"),
                mdir.alias("marginal_favors_exposed"),
                (sdir != mdir).alias("flipped"))
    )


# -- per-stratum odds ratios with Woolf CIs --------------------------------------
_OR_Z = 1.959964  # ~N(0,1) 97.5% quantile, shared literal


@register(
    "q_odds_ratio_ci",
    f"""
    WITH lab AS (
      SELECT min(source) AS sa
      FROM (SELECT source FROM documents GROUP BY source
            ORDER BY source LIMIT 1)),
    cells AS (
      SELECT lang,
             CAST(sum(CASE WHEN exposed AND long_doc THEN 1 ELSE 0 END)
                  AS BIGINT) + 0.5 AS a,
             CAST(sum(CASE WHEN exposed AND NOT long_doc THEN 1 ELSE 0 END)
                  AS BIGINT) + 0.5 AS b,
             CAST(sum(CASE WHEN NOT exposed AND long_doc THEN 1 ELSE 0 END)
                  AS BIGINT) + 0.5 AS c,
             CAST(sum(CASE WHEN NOT exposed AND NOT long_doc
                           THEN 1 ELSE 0 END) AS BIGINT) + 0.5 AS d
      FROM (SELECT d.lang, d.source = (SELECT sa FROM lab) AS exposed,
                   coalesce(d.n_chars, 0) >= 500 AS long_doc
            FROM documents d)
      GROUP BY lang)
    SELECT lang,
           CAST(a - 0.5 AS BIGINT) AS n_a, CAST(b - 0.5 AS BIGINT) AS n_b,
           CAST(c - 0.5 AS BIGINT) AS n_c, CAST(d - 0.5 AS BIGINT) AS n_d,
           round(ln(a * d / (b * c)), 6) + 0.0 AS log_or,
           round(ln(a * d / (b * c))
                 - {_OR_Z} * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d),
                 6) + 0.0 AS ci_lo,
           round(ln(a * d / (b * c))
                 + {_OR_Z} * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d),
                 6) + 0.0 AS ci_hi
    FROM cells
    """,
)
def q_odds_ratio_ci(spark, sf_dir):
    """Per-lang-stratum log odds ratio of long-document rate (first
    source vs rest) with Woolf confidence intervals under the Haldane-
    Anscombe +0.5 continuity correction — the per-stratum detail table
    behind q_mantel_haenszel's pooled number (and the CI companion the
    Wilson intervals give proportions).  Cell counts are exact BIGINTs;
    the corrected cells, ln, and the variance chain are token-mirrored;
    zero cells stay finite by construction.  Plan: one lang agg over a
    zero-shuffle scan."""
    docs = load(spark, sf_dir, "documents")
    lab = (docs.groupBy("source").agg(F.lit(1).alias("__o"))
           .orderBy("source").limit(1)
           .select(F.col("source").alias("sa")))
    base = docs.crossJoin(F.broadcast(lab)).select(
        "lang",
        (F.col("source") == F.col("sa")).alias("exposed"),
        (F.coalesce(F.col("n_chars"), F.lit(0)) >= 500).alias("long_doc"),
    )

    def cell(cond):
        return (F.sum(cond.cast("long")).cast("long").cast("double")
                + F.lit(0.5))

    cells = base.groupBy("lang").agg(
        cell(F.col("exposed") & F.col("long_doc")).alias("a"),
        cell(F.col("exposed") & ~F.col("long_doc")).alias("b"),
        cell(~F.col("exposed") & F.col("long_doc")).alias("c"),
        cell(~F.col("exposed") & ~F.col("long_doc")).alias("d"),
    )
    lor = F.log(F.col("a") * F.col("d") / (F.col("b") * F.col("c")))
    se = F.sqrt(1.0 / F.col("a") + 1.0 / F.col("b")
                + 1.0 / F.col("c") + 1.0 / F.col("d"))
    return cells.select(
        "lang",
        (F.col("a") - 0.5).cast("long").alias("n_a"),
        (F.col("b") - 0.5).cast("long").alias("n_b"),
        (F.col("c") - 0.5).cast("long").alias("n_c"),
        (F.col("d") - 0.5).cast("long").alias("n_d"),
        (F.round(lor, 6) + F.lit(0.0)).alias("log_or"),
        (F.round(lor - _OR_Z * se, 6) + F.lit(0.0)).alias("ci_lo"),
        (F.round(lor + _OR_Z * se, 6) + F.lit(0.0)).alias("ci_hi"),
    )


# -- CUPED-adjusted A/B readout with MDE ------------------------------------------
_CUPED_CUT = "2024-01-16 00:00:00"
_Z_ALPHA = 1.959964  # 97.5%
_Z_POWER = 0.841621  # 80%


def _cuped_oracle() -> str:
    # exact BIGINT kernels; every float is one mirrored chain
    return f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2 AS grp,
             CAST(sum(CASE WHEN ts < TIMESTAMP '{_CUPED_CUT}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUT}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN grp = 0 THEN x ELSE 0 END) AS BIGINT) AS sax,
             CAST(sum(CASE WHEN grp = 0 THEN y ELSE 0 END) AS BIGINT) AS say
      FROM per_user),
    d AS (
      SELECT n, na, n - na AS nb,
             CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS cxy,
             CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS vx,
             CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS vy,
             CAST(say AS DOUBLE) / na
               - CAST(sy - say AS DOUBLE) / (n - na) AS diff_raw,
             CAST(sax AS DOUBLE) / na
               - CAST(sx - sax AS DOUBLE) / (n - na) AS dx
      FROM mom)
    SELECT n AS n_users, na AS n_a, nb AS n_b,
           round(cxy / vx, 6) + 0.0 AS theta,
           round(diff_raw, 6) + 0.0 AS diff_raw,
           round(diff_raw - (cxy / vx) * dx, 6) + 0.0 AS diff_cuped,
           round(cxy * cxy / (vx * vy), 6) + 0.0 AS rho2,
           round(({_Z_ALPHA} + {_Z_POWER})
                 * sqrt(vy / (n * CAST(n AS DOUBLE) - n)
                        * (1.0 / na + 1.0 / nb)), 6) + 0.0 AS mde_raw,
           round(({_Z_ALPHA} + {_Z_POWER})
                 * sqrt(vy / (n * CAST(n AS DOUBLE) - n)
                        * (1.0 - cxy * cxy / (vx * vy))
                        * (1.0 / na + 1.0 / nb)), 6) + 0.0 AS mde_cuped
    FROM d
    """


@register("q_cuped_abtest", _cuped_oracle())
def q_cuped_abtest(spark, sf_dir):
    """CUPED-adjusted A/B readout (Deng et al. 2013, the industry-
    standard variance-reduction for online experiments): users split by
    the portable md5 bit, metric = post-period event count, covariate =
    pre-period count; theta = cov(x,y)/var(x) folds the pre-period out
    of the effect, and the minimum detectable effect is reported both
    raw and CUPED-reduced (x sqrt(1-rho^2)) — the why-bother number.
    All kernels (n*Sxy - Sx*Sy etc.) are exact BIGINT integer moments
    promoted to double only for the final mirrored chains.  Plan: one
    user agg, one 1-row moment agg."""
    ev = load(spark, sf_dir, "events")
    grp = (F.conv(F.substring(F.md5(F.col("user_id").cast("string")),
                              1, 15), 16, 10).cast("long") % 2)
    cut = F.lit(_CUPED_CUT).cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, 1).otherwise(0))
        .cast("long").alias("x"),
        F.sum(F.when(F.col("ts") >= cut, 1).otherwise(0))
        .cast("long").alias("y"),
    ).select(grp.alias("grp"), "x", "y")
    mom = per_user.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long").alias("na"),
        F.sum(F.when(F.col("grp") == 0, F.col("x")).otherwise(0))
        .cast("long").alias("sax"),
        F.sum(F.when(F.col("grp") == 0, F.col("y")).otherwise(0))
        .cast("long").alias("say"),
    )
    n, na = F.col("n"), F.col("na")
    nb = n - na
    cxy = n.cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    vx = n.cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = n.cast("double") * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    diff_raw = (F.col("say").cast("double") / na
                - (F.col("sy") - F.col("say")).cast("double") / nb)
    dx = (F.col("sax").cast("double") / na
          - (F.col("sx") - F.col("sax")).cast("double") / nb)
    rho2 = cxy * cxy / (vx * vy)
    zsum = F.lit(_Z_ALPHA + _Z_POWER)
    inv = 1.0 / na + 1.0 / nb
    vyn = vy / (n * n.cast("double") - n)
    return mom.select(
        n.alias("n_users"), na.alias("n_a"), nb.cast("long").alias("n_b"),
        (F.round(cxy / vx, 6) + F.lit(0.0)).alias("theta"),
        (F.round(diff_raw, 6) + F.lit(0.0)).alias("diff_raw"),
        (F.round(diff_raw - (cxy / vx) * dx, 6) + F.lit(0.0))
        .alias("diff_cuped"),
        (F.round(rho2, 6) + F.lit(0.0)).alias("rho2"),
        (F.round(zsum * F.sqrt(vyn * inv), 6) + F.lit(0.0)).alias("mde_raw"),
        (F.round(zsum * F.sqrt(vyn * (F.lit(1.0) - rho2) * inv), 6)
         + F.lit(0.0)).alias("mde_cuped"),
    )


# -- Poisson SPRT over the daily series -------------------------------------------
# H0: rate = lambda0 (the observed mean), H1: rate = 1.5 * lambda0;
# boundaries ln((1-beta)/alpha), ln(beta/(1-alpha)) at alpha=.05, beta=.2,
# pre-quantized to 1e-6 integers so the decision compares BIGINTs.
_SPRT_UP_Q = 2772588     # floor(ln(0.8/0.05) * 1e6)
_SPRT_LO_Q = -1558145    # floor(ln(0.2/0.95) * 1e6)
_SPRT_SCALE = 10**6
_SPRT_BASE_DAYS = 7      # lambda0 comes from this leading baseline window


@register(
    "q_sprt_daily",
    f"""
    WITH days AS (
      SELECT day, x, row_number() OVER (ORDER BY day) AS rn
      FROM (SELECT strftime(ts, '%Y-%m-%d') AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1)),
    base AS (
      SELECT CAST(sum(x) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS d
      FROM days WHERE rn <= {_SPRT_BASE_DAYS}),
    terms AS (
      SELECT day, x,
             CAST(floor((x * ln(1.5)
                         - 0.5 * (CAST(n AS DOUBLE) / d))
                        * {_SPRT_SCALE}) AS BIGINT) AS lq
      FROM days CROSS JOIN base
      WHERE rn > {_SPRT_BASE_DAYS}),
    cum AS (
      SELECT day, x,
             CAST(sum(lq) OVER (ORDER BY day) AS BIGINT) AS cum_q
      FROM terms)
    SELECT day, x,
           round(CAST(cum_q AS DOUBLE) / {_SPRT_SCALE}, 6) + 0.0 AS cum_llr,
           CASE WHEN cum_q >= {_SPRT_UP_Q} THEN 'accept_h1'
                WHEN cum_q <= {_SPRT_LO_Q} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM cum
    """,
)
def q_sprt_daily(spark, sf_dir):
    """Wald's sequential probability ratio test over the daily event
    series (Poisson form): λ0 is the mean rate of the LEADING 7-day
    baseline window, and the cumulative log-likelihood ratio of
    rate = 1.5·λ0 vs λ0 runs over every later day with the classic
    (α=.05, β=.2) decision boundaries — the SEQUENTIAL member of the
    experimentation family beside the fixed-horizon Welch/permutation
    tests and the CUPED readout (stop the moment the evidence crosses a
    boundary instead of waiting out the horizon; a self-referential
    full-series mean would make H1 unreachable by construction, which
    is why the null is a baseline window).  Each day's LLR term
    quantizes to a 1e-6 BIGINT (one ln(1.5) constant, one mean-rate
    division — both mirrored), so the cumulative sum and the boundary
    comparisons are exact integers.  Plan: one day agg + a 1-row
    baseline attach + one window over the day spine."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    wd = Window.orderBy("day")
    days = (ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.count("*").cast("long").alias("x"))
            .withColumn("rn", F.row_number().over(wd)))
    base = (days.filter(F.col("rn") <= _SPRT_BASE_DAYS)
            .agg(F.sum("x").cast("long").alias("n"),
                 F.count("*").cast("long").alias("d")))
    terms = (days.filter(F.col("rn") > _SPRT_BASE_DAYS)
             .crossJoin(F.broadcast(base)).select(
        "day", "x",
        F.floor((F.col("x") * F.log(F.lit(1.5))
                 - F.lit(0.5) * (F.col("n").cast("double") / F.col("d")))
                * _SPRT_SCALE).cast("long").alias("lq"),
    ))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    cum = terms.withColumn("cum_q", F.sum("lq").over(w).cast("long"))
    return cum.select(
        "day", "x",
        (F.round(F.col("cum_q").cast("double") / _SPRT_SCALE, 6)
         + F.lit(0.0)).alias("cum_llr"),
        F.when(F.col("cum_q") >= _SPRT_UP_Q, F.lit("accept_h1"))
        .when(F.col("cum_q") <= _SPRT_LO_Q, F.lit("accept_h0"))
        .otherwise(F.lit("continue")).alias("decision"),
    )


# -- Theil-Sen robust slope of the daily event series ------------------------
@register(
    "q_theil_sen_slope",
    """
    WITH days AS (
      SELECT CAST(date_diff('day',
                  (SELECT min(CAST(ts AS DATE)) FROM events),
                  CAST(ts AS DATE)) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1),
    pairs AS (
      SELECT a.d AS d1, b.d AS d2,
             CAST(b.c - a.c AS DOUBLE) / (b.d - a.d) AS slope
      FROM days a JOIN days b ON a.d < b.d),
    ranked AS (
      SELECT slope, d1, d2,
             CAST(row_number() OVER (ORDER BY slope, d1, d2) AS BIGINT)
               AS rn,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM pairs),
    sel AS (
      SELECT slope, m FROM ranked
      WHERE rn = CAST(floor((m + 1) / 2.0) AS BIGINT)
         OR rn = CAST(floor((m + 2) / 2.0) AS BIGINT))
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM days) AS n_days,
           CAST(max(m) AS BIGINT) AS n_pairs,
           round(avg(slope), 6) + 0.0 AS ts_slope
    FROM sel
    """,
)
def q_theil_sen_slope(spark, sf_dir):
    """Theil-Sen estimator for the daily event-count trend: the MEDIAN
    of all pairwise slopes (c_j - c_i)/(d_j - d_i) — the robust
    companion to q_mann_kendall (which tests trend DIRECTION; Theil-Sen
    gives its magnitude, immune to ~29% outlier contamination where OLS
    breaks).  Each slope is ONE float division over exact day/count
    integers; the median picks positional middles under a total
    (slope, d1, d2) order, so ties can't reorder the selected values.
    Scale: the pair frame is #days^2 — a spine self-join, never
    row-scaled; everything upstream is one day agg."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    raw = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("c"))
    d0 = raw.agg(F.min("day").alias("d0"))
    days = raw.crossJoin(F.broadcast(d0)).select(
        F.datediff("day", "d0").cast("long").alias("d"), "c")
    a = days.select(F.col("d").alias("d1"), F.col("c").alias("c1"))
    b = days.select(F.col("d").alias("d2"), F.col("c").alias("c2"))
    pairs = a.join(F.broadcast(b), F.col("d1") < F.col("d2")).select(
        "d1", "d2",
        ((F.col("c2") - F.col("c1")).cast("double")
         / (F.col("d2") - F.col("d1"))).alias("slope"),
    )
    w = Window.orderBy("slope", "d1", "d2")
    ranked = pairs.select(
        "slope",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count("*").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing))
        .cast("long").alias("m"),
    )
    sel = ranked.filter(
        (F.col("rn") == F.floor((F.col("m") + 1) / F.lit(2.0)))
        | (F.col("rn") == F.floor((F.col("m") + 2) / F.lit(2.0))))
    nd = raw.agg(F.count("*").cast("long").alias("n_days"))
    return (
        sel.agg(F.max("m").cast("long").alias("n_pairs"),
                (F.round(F.avg("slope"), 6) + F.lit(0.0)).alias("ts_slope"))
        .crossJoin(F.broadcast(nd))
        .select("n_days", "n_pairs", "ts_slope")
    )


# -- Benjamini-Hochberg FDR over per-type permutation tests ------------------
_BH_R = 99            # replicas; p denominators are R + 1 = 100
_BH_SCALE = 10**6     # |mean diff| quantization
_BH_A_NUM, _BH_A_DEN = 1, 10   # alpha = 0.1


def _bh_oracle() -> str:
    wd = ("(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 3) % 7")
    # replica bits: 21 base-7 digits from EACH of ceil(R/21) 60-bit md5
    # values per event (one hash yields 21 replicas, a ~20x hash-cost cut
    # vs hashing per (event, replica)); digits of a uniform 60-bit int
    # are uniform mod 7 up to a 2^-57 bias, and the scheme is mirrored
    # digit-for-digit on both engines
    n_h = (_BH_R + 20) // 21
    hs = ", ".join(
        "CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':s"
        f"{i}'), 1, 15)) AS BIGINT)" for i in range(n_h))
    pows = ", ".join(f"{7 ** d}::BIGINT" for d in range(21))
    diffq = (lambda sa, na, sb, nb:
             f"CASE WHEN {na} > 0 AND {nb} > 0 THEN "
             f"CAST(floor(abs(CAST({sa} AS DOUBLE) / {na}"
             f" - CAST({sb} AS DOUBLE) / {nb}) * {_BH_SCALE}) AS BIGINT)"
             f" ELSE NULL END")
    return f"""
    WITH base AS (
      SELECT event_id, event_type,
             CAST(floor(coalesce(value, 0) * 100 + 0.5) AS BIGINT) AS xq,
             CASE WHEN {wd} >= 5 THEN 1 ELSE 0 END AS wk
      FROM events),
    obs AS (
      SELECT event_type,
             CAST(sum(wk) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN wk = 1 THEN xq ELSE 0 END) AS BIGINT) AS s_a,
             CAST(count(*) AS BIGINT) AS n_t,
             CAST(sum(xq) AS BIGINT) AS s_t
      FROM base GROUP BY event_type),
    obsq AS (
      SELECT event_type, n_a AS n_wk, n_t - n_a AS n_wd,
             {diffq('s_a', 'n_a', '(s_t - s_a)', '(n_t - n_a)')}
               AS diff_obs_q
      FROM obs),
    hashed AS (
      SELECT event_type, xq, [{hs}] AS hs FROM base),
    reps AS (
      SELECT event_type, r,
             CAST(sum(CASE WHEN bit >= 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN bit >= 5 THEN xq ELSE 0 END) AS BIGINT)
               AS s_a,
             CAST(count(*) AS BIGINT) AS n_t,
             CAST(sum(xq) AS BIGINT) AS s_t
      FROM (
        SELECT h.event_type, h.xq, t.r,
               ((h.hs[CAST(floor((t.r - 1) / 21.0) AS INT) + 1]
                 // [{pows}][CAST((t.r - 1) % 21 AS INT) + 1]) % 7) AS bit
        FROM hashed h, range(1, {_BH_R} + 1) t(r))
      GROUP BY event_type, r),
    repq AS (
      SELECT event_type,
             {diffq('s_a', 'n_a', '(s_t - s_a)', '(n_t - n_a)')} AS diff_q
      FROM reps),
    pv AS (
      SELECT o.event_type, o.n_wk, o.n_wd, o.diff_obs_q,
             CAST(1 + sum(CASE WHEN r.diff_q >= o.diff_obs_q
                               THEN 1 ELSE 0 END) AS BIGINT) AS p_num
      FROM obsq o JOIN repq r USING (event_type)
      WHERE o.diff_obs_q IS NOT NULL
      GROUP BY 1, 2, 3, 4),
    bh AS (
      SELECT *,
             CAST(row_number() OVER (ORDER BY p_num, event_type)
                  AS BIGINT) AS bh_rank,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM pv),
    dec AS (
      SELECT *,
             max(CASE WHEN p_num * m * {_BH_A_DEN}
                        <= bh_rank * {_BH_R + 1} * {_BH_A_NUM}
                      THEN bh_rank END) OVER () AS imax
      FROM bh)
    SELECT event_type, n_wk, n_wd, diff_obs_q, p_num,
           round(p_num / {_BH_R + 1}.0, 6) + 0.0 AS p_value,
           bh_rank,
           CAST(CASE WHEN bh_rank <= coalesce(imax, 0)
                     THEN 1 ELSE 0 END AS BIGINT) AS rejected
    FROM dec
    """


@register("q_bh_fdr", _bh_oracle())
def q_bh_fdr(spark, sf_dir):
    """Benjamini-Hochberg FDR control over a FAMILY of per-event-type
    randomization tests (weekend-vs-weekday mean value), with
    EXACT-INTEGER p-values: each test's p is (1 + #{replica diff >=
    observed diff}) / (R+1) from the portable md5 pseudo-assignment
    (marginal 2/7, matching the weekend share), so both the p-values
    and the BH step-up comparisons p_(i) <= i*alpha/m are pure integer
    arithmetic — no CDF approximation enters either engine.  The
    multiple-testing gate every per-stratum test battery (Welch / MW /
    KS families) feeds at scale.  Plan: events x R rows collapse in ONE
    map-side-combined (type, r) agg; everything after is #types-bounded
    windows."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "event_type",
        F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100
                + F.lit(0.5)).cast("long").alias("xq"),
        F.when(
            (F.datediff(F.to_date("ts"),
                        F.to_date(F.lit("1970-01-01"))) + 3) % 7 >= 5,
            F.lit(1)).otherwise(F.lit(0)).alias("wk"),
    )

    def diffq(sa, na, sb, nb):
        return F.when(
            (na > 0) & (nb > 0),
            F.floor(F.abs(sa.cast("double") / na - sb.cast("double") / nb)
                    * _BH_SCALE).cast("long"),
        ).otherwise(F.lit(None).cast("long"))

    obs = base.groupBy("event_type").agg(
        F.sum("wk").cast("long").alias("n_a"),
        F.sum(F.when(F.col("wk") == 1, F.col("xq")).otherwise(0))
        .cast("long").alias("s_a"),
        F.count("*").cast("long").alias("n_t"),
        F.sum("xq").cast("long").alias("s_t"),
    )
    obsq = obs.select(
        "event_type", F.col("n_a").alias("n_wk"),
        (F.col("n_t") - F.col("n_a")).alias("n_wd"),
        diffq(F.col("s_a"), F.col("n_a"),
              F.col("s_t") - F.col("s_a"),
              F.col("n_t") - F.col("n_a")).alias("diff_obs_q"),
    ).filter(F.col("diff_obs_q").isNotNull())
    n_h = (_BH_R + 20) // 21
    hs = F.array(*[
        F.conv(F.substring(F.md5(F.concat(
            F.col("event_id").cast("string"), F.lit(f":s{i}"))), 1, 15),
            16, 10).cast("long")
        for i in range(n_h)])
    pow7 = F.array(*[F.lit(7 ** d).cast("long") for d in range(21)])
    hashed = base.select("event_type", "xq", hs.alias("hs"))
    picked = (
        hashed.select("event_type", "xq",
                      F.explode(F.sequence(F.lit(1), F.lit(_BH_R)))
                      .alias("r"), "hs")
        .select(
            "event_type", "xq", "r",
            F.element_at("hs", (F.floor((F.col("r") - 1) / F.lit(21.0))
                                .cast("int") + 1)).alias("h"),
            F.element_at(pow7, ((F.col("r") - 1) % 21).cast("int") + 1)
            .alias("p"),
        )
    )
    reps = (
        picked.select("event_type", "xq", "r",
                      F.expr("(h div p) % 7").alias("bit"))
        .groupBy("event_type", "r")
        .agg(
            F.sum(F.when(F.col("bit") >= 5, 1).otherwise(0))
            .cast("long").alias("n_a"),
            F.sum(F.when(F.col("bit") >= 5, F.col("xq")).otherwise(0))
            .cast("long").alias("s_a"),
            F.count("*").cast("long").alias("n_t"),
            F.sum("xq").cast("long").alias("s_t"),
        )
    )
    repq = reps.select(
        "event_type",
        diffq(F.col("s_a"), F.col("n_a"),
              F.col("s_t") - F.col("s_a"),
              F.col("n_t") - F.col("n_a")).alias("diff_q"),
    )
    pv = (
        obsq.join(repq, "event_type")
        .groupBy("event_type", "n_wk", "n_wd", "diff_obs_q")
        .agg((F.lit(1) + F.sum(
            F.when(F.col("diff_q") >= F.col("diff_obs_q"), 1).otherwise(0)))
            .cast("long").alias("p_num"))
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    bh = pv.select(
        "*",
        F.row_number().over(Window.orderBy("p_num", "event_type"))
        .cast("long").alias("bh_rank"),
        F.count("*").over(w_all).cast("long").alias("m"),
    )
    dec = bh.withColumn(
        "imax",
        F.max(F.when(
            F.col("p_num") * F.col("m") * _BH_A_DEN
            <= F.col("bh_rank") * (_BH_R + 1) * _BH_A_NUM,
            F.col("bh_rank"))).over(w_all),
    )
    return dec.select(
        "event_type", "n_wk", "n_wd", "diff_obs_q", "p_num",
        (F.round(F.col("p_num") / F.lit(float(_BH_R + 1)), 6)
         + F.lit(0.0)).alias("p_value"),
        "bh_rank",
        F.when(F.col("bh_rank") <= F.coalesce(F.col("imax"), F.lit(0)),
               F.lit(1)).otherwise(F.lit(0)).cast("long").alias("rejected"),
    )


# -- Bradley-Terry preference strengths over sources -------------------------
def _bt_oracle() -> str:
    from nonconsumptive_spark.operators.evaluation import (
        BT_P_FLOOR, BT_Q, BT_ROUNDS)

    rounds = []
    prev = "p0"
    for t in range(1, BT_ROUNDS + 1):
        rounds.append(f"""
    s{t} AS MATERIALIZED (
      SELECT g.i, CAST(sum(CAST(floor({BT_Q}.0
                 * (CAST(g.nij AS DOUBLE) / g.n_tot)
                 / (a.p + b.p)) AS BIGINT)) AS BIGINT) AS s_q
      FROM games g JOIN {prev} a ON a.i = g.i JOIN {prev} b ON b.i = g.j
      GROUP BY g.i),
    r{t} AS MATERIALIZED (
      SELECT s.i, CAST(floor({BT_Q}.0
                 * ((CAST(w.w_tot AS DOUBLE) / w.n_tot)
                    / (s.s_q / {BT_Q}.0))) AS BIGINT) AS praw_q
      FROM s{t} s JOIN wtot w ON w.i = s.i),
    z{t} AS MATERIALIZED (SELECT CAST(sum(praw_q) AS BIGINT) AS z_q
      FROM r{t}),
    p{t} AS MATERIALIZED (
      SELECT i, praw_q, greatest(praw_q / z_q, {BT_P_FLOOR}) AS p
      FROM r{t} CROSS JOIN z{t})""")
        prev = f"p{t}"
    return f"""
    WITH hist AS (
      SELECT source, CAST(floor(n_chars / 100.0) AS BIGINT) AS b,
             CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2),
    per_dir AS (
      SELECT a.source AS i, b.source AS j,
             CAST(sum(a.c * b.c) AS BIGINT) AS w
      FROM hist a JOIN hist b ON a.b > b.b AND a.source <> b.source
      GROUP BY 1, 2),
    und AS (
      SELECT least(i, j) AS lo, greatest(i, j) AS hi,
             CAST(sum(CASE WHEN i < j THEN w ELSE 0 END) AS BIGINT) AS w_lh,
             CAST(sum(CASE WHEN i > j THEN w ELSE 0 END) AS BIGINT) AS w_hl
      FROM per_dir GROUP BY 1, 2),
    ntot AS (SELECT CAST(sum(w_lh + w_hl) AS BIGINT) AS n_tot FROM und),
    games AS MATERIALIZED (
      SELECT lo AS i, hi AS j, w_lh AS wij,
             w_lh + w_hl AS nij, n_tot
      FROM und CROSS JOIN ntot
      UNION ALL
      SELECT hi, lo, w_hl, w_lh + w_hl, n_tot FROM und CROSS JOIN ntot),
    wtot AS MATERIALIZED (
      SELECT i, CAST(sum(wij) AS BIGINT) AS w_tot,
             CAST(sum(nij) AS BIGINT) AS n_games,
             CAST(max(n_tot) AS BIGINT) AS n_tot
      FROM games GROUP BY i),
    mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM wtot),
    p0 AS MATERIALIZED (SELECT i, 1.0 / m AS p
      FROM wtot CROSS JOIN mm),{','.join(rounds)}
    SELECT p.i AS item, w.w_tot AS n_wins, w.n_games,
           round(p.p, 6) + 0.0 AS strength,
           CAST(row_number() OVER (ORDER BY p.praw_q DESC, p.i ASC)
                AS BIGINT) AS bt_rank
    FROM {prev} p JOIN wtot w ON w.i = p.i
    """


@register("q_bradley_terry", _bt_oracle())
def q_bradley_terry(spark, sf_dir):
    """Bradley-Terry strengths over sources from exact pairwise
    length-dominance wins (operators/evaluation.bradley_terry) — the
    preference-aggregation primitive of RLHF data pipelines.  Win counts
    come from a per-source LENGTH-BUCKET histogram join (sum over bucket
    pairs b_a > b_b of c_a*c_b = exact #cross-pairs where a's doc is
    longer), so the corpus collapses to #sources x #buckets rows before
    any pairing; the MM fixpoint then runs on the #sources^2 spine with
    BIGINT-quantized sums per round."""
    docs = load(spark, sf_dir, "documents")
    hist = docs.groupBy(
        "source",
        F.floor(F.col("n_chars") / F.lit(100.0)).cast("long").alias("b"),
    ).agg(F.count("*").cast("long").alias("c"))
    ha = hist.select(F.col("source").alias("i"), F.col("b").alias("ba"),
                     F.col("c").alias("ca"))
    hb = hist.select(F.col("source").alias("j"), F.col("b").alias("bb"),
                     F.col("c").alias("cb"))
    per_dir = (
        ha.join(F.broadcast(hb),
                (F.col("ba") > F.col("bb")) & (F.col("i") != F.col("j")))
        .groupBy("i", "j")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("w"))
    )
    from nonconsumptive_spark.operators.evaluation import bradley_terry

    return bradley_terry(per_dir, item_col="i", opp_col="j", wins_col="w")


# -- Nelson-Aalen cumulative hazard (companion to Kaplan-Meier) --------------
_NA_CENS_DAYS = 7  # same censoring convention as q_kaplan_meier


@register(
    "q_nelson_aalen",
    f"""
    WITH pu AS (
      SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
      FROM events GROUP BY user_id),
    obs AS (SELECT max(ts) AS end_ts FROM events),
    durs AS (
      SELECT CAST(date_diff('day', CAST(first_ts AS DATE),
                            CAST(last_ts AS DATE)) AS BIGINT) AS dur,
             (last_ts < end_ts - INTERVAL {_NA_CENS_DAYS} DAY) AS observed
      FROM pu CROSS JOIN obs),
    tbl AS (
      SELECT dur, CAST(count(*) AS BIGINT) AS n_all,
             CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
               AS n_event
      FROM durs GROUP BY dur),
    risk AS (
      SELECT dur, n_all, n_event,
             CAST((SELECT count(*) FROM durs)
                  - COALESCE(sum(n_all) OVER (
                      ORDER BY dur
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_risk
      FROM tbl),
    terms AS (
      SELECT dur, n_risk, n_event,
             CAST(floor(1000000000.0 * CAST(n_event AS DOUBLE) / n_risk)
                  AS BIGINT) AS term
      FROM risk),
    haz AS (
      SELECT dur, n_risk, n_event,
             CAST(sum(term) OVER (ORDER BY dur) AS BIGINT) AS na_q
      FROM terms)
    SELECT dur, n_risk, n_event, na_q,
           round(na_q / 1000000000.0, 6) + 0.0 AS cum_hazard,
           round(exp(-(na_q / 1000000000.0)), 6) + 0.0 AS na_survival
    FROM haz
    """,
)
def q_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative hazard over user lifetimes (same
    censoring convention as q_kaplan_meier): H(t) = sum d_i/n_i with
    each increment floor-quantized to a 1e-9 BIGINT before the
    cumulative window sum, plus the Breslow survival exp(-H) — the
    hazard-scale companion the KM product-limit can't give (H is
    additive, so per-cohort hazards subtract cleanly).  Plan: one user
    agg, a 1-row end-of-observation attach, and windows over the
    #distinct-durations spine."""
    from pyspark.sql import Window

    from nonconsumptive_spark.plans.checkpoint import materialize_once

    ev = load(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"),
                                   F.max("ts").alias("last_ts"))
    obs = ev.agg(F.max("ts").alias("end_ts"))
    durs = pu.crossJoin(F.broadcast(obs)).select(
        F.datediff(F.to_date("last_ts"), F.to_date("first_ts"))
        .cast("long").alias("dur"),
        (F.col("last_ts")
         < F.col("end_ts") - F.expr(f"INTERVAL {_NA_CENS_DAYS} DAYS"))
        .alias("observed"),
    )
    durs = materialize_once(durs, "na_durs")  # feeds the table AND the total
    tot = durs.agg(F.count("*").cast("long").alias("n_users"))
    tbl = durs.groupBy("dur").agg(
        F.count("*").cast("long").alias("n_all"),
        F.sum(F.col("observed").cast("long")).cast("long").alias("n_event"),
    )
    w_prev = (Window.orderBy("dur")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_cum = (Window.orderBy("dur")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    risk = tbl.crossJoin(F.broadcast(tot)).select(
        "dur", "n_all", "n_event",
        (F.col("n_users")
         - F.coalesce(F.sum("n_all").over(w_prev), F.lit(0)))
        .cast("long").alias("n_risk"),
    )
    terms = risk.select(
        "dur", "n_risk", "n_event",
        F.floor(F.lit(1e9) * F.col("n_event").cast("double")
                / F.col("n_risk")).cast("long").alias("term"),
    )
    haz = terms.select(
        "dur", "n_risk", "n_event",
        F.sum("term").over(w_cum).cast("long").alias("na_q"),
    )
    return haz.select(
        "dur", "n_risk", "n_event", "na_q",
        (F.round(F.col("na_q") / F.lit(1e9), 6) + F.lit(0.0))
        .alias("cum_hazard"),
        (F.round(F.exp(-(F.col("na_q") / F.lit(1e9))), 6) + F.lit(0.0))
        .alias("na_survival"),
    )


# -- difference-in-differences readout ---------------------------------------
def _did_cell(tag: str, cond: str) -> str:
    return (f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_{tag},\n"
            f"             CAST(sum(CASE WHEN {cond} THEN xq ELSE 0 END)"
            f" AS BIGINT) AS s_{tag},\n"
            f"             CAST(sum(CASE WHEN {cond} THEN xq * xq ELSE 0 END)"
            f" AS BIGINT) AS ss_{tag}")


_DID_M = {t: f"(CAST(s_{t} AS DOUBLE) / n_{t})"
          for t in ("tp", "t0", "cp", "c0")}
_DID_V = {t: f"((CAST(ss_{t} AS DOUBLE)"
             f" - CAST(s_{t} AS DOUBLE) * s_{t} / n_{t}) / (n_{t} - 1))"
          for t in ("tp", "t0", "cp", "c0")}
_DID_EST = (f"(({_DID_M['tp']} - {_DID_M['t0']})"
            f" - ({_DID_M['cp']} - {_DID_M['c0']}))")
_DID_SE = ("sqrt(((({v_tp} / n_tp + {v_t0} / n_t0) + {v_cp} / n_cp)"
           " + {v_c0} / n_c0))".format(
               v_tp=_DID_V["tp"], v_t0=_DID_V["t0"],
               v_cp=_DID_V["cp"], v_c0=_DID_V["c0"]))


@register(
    "q_did_readout",
    f"""
    WITH span AS (
      SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
      FROM events),
    base AS (
      SELECT CAST(floor(coalesce(value, 0) * 100 + 0.5) AS BIGINT) AS xq,
             CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treat,
             CASE WHEN 2 * date_diff('day', d0, CAST(ts AS DATE))
                       >= date_diff('day', d0, d1) + 1
                  THEN 1 ELSE 0 END AS post
      FROM events CROSS JOIN span),
    cells AS (
      SELECT {_did_cell('tp', 'treat = 1 AND post = 1')},
             {_did_cell('t0', 'treat = 1 AND post = 0')},
             {_did_cell('cp', 'treat = 0 AND post = 1')},
             {_did_cell('c0', 'treat = 0 AND post = 0')}
      FROM base)
    SELECT n_tp, n_t0, n_cp, n_c0,
           round({_DID_EST} / 100.0, 6) + 0.0 AS did,
           round({_DID_SE} / 100.0, 6) + 0.0 AS se,
           round({_DID_EST} / {_DID_SE}, 6) + 0.0 AS t_stat
    FROM cells
    """,
)
def q_did_readout(spark, sf_dir):
    """Difference-in-differences readout over the events table:
    treatment = odd user_id, post = second half of the observation
    window (integer date arithmetic on both engines), outcome = event
    value in exact cents.  The 2x2 cell moments are ONE conditional
    BIGINT agg; the DiD point estimate, its Welch-style pooled SE
    sqrt(sum v_i/n_i), and the t-statistic are mirrored float chains
    over those integers — the quasi-experimental companion to
    q_cuped_abtest (which removes pre-period variance; DiD removes
    group-level level differences).  Plan: one scan, one 1-row agg."""
    ev = load(spark, sf_dir, "events")
    span = ev.agg(F.min(F.to_date("ts")).alias("d0"),
                  F.max(F.to_date("ts")).alias("d1"))
    base = ev.crossJoin(F.broadcast(span)).select(
        F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100
                + F.lit(0.5)).cast("long").alias("xq"),
        F.when(F.col("user_id") % 2 == 1, F.lit(1)).otherwise(F.lit(0))
        .alias("treat"),
        F.when(
            F.lit(2) * F.datediff(F.to_date("ts"), F.col("d0"))
            >= F.datediff(F.col("d1"), F.col("d0")) + F.lit(1),
            F.lit(1)).otherwise(F.lit(0)).alias("post"),
    )

    def cell(tag, t, p):
        c = (F.col("treat") == t) & (F.col("post") == p)
        return [
            F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(f"n_{tag}"),
            F.sum(F.when(c, F.col("xq")).otherwise(0)).cast("long")
            .alias(f"s_{tag}"),
            F.sum(F.when(c, F.col("xq") * F.col("xq")).otherwise(0))
            .cast("long").alias(f"ss_{tag}"),
        ]

    cells = base.agg(*(cell("tp", 1, 1) + cell("t0", 1, 0)
                       + cell("cp", 0, 1) + cell("c0", 0, 0)))
    return cells.selectExpr(
        "n_tp", "n_t0", "n_cp", "n_c0",
        f"round({_DID_EST} / 100.0, 6) + 0.0 AS did",
        f"round({_DID_SE} / 100.0, 6) + 0.0 AS se",
        f"round({_DID_EST} / {_DID_SE}, 6) + 0.0 AS t_stat",
    )


# -- empirical-Bayes beta-binomial shrinkage of per-user rates ---------------
_EB_SCALE = 10**6  # rate quantization; rq^2 sums stay far below 2^63


@register(
    "q_eb_shrinkage",
    f"""
    WITH pu AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM events GROUP BY user_id),
    q AS (SELECT user_id, n, x,
                 CAST(floor({_EB_SCALE}.0 * x / n) AS BIGINT) AS rq
          FROM pu),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(rq) AS BIGINT) AS s,
             CAST(sum(rq * rq) AS BIGINT) AS ss
      FROM q),
    prior AS (
      SELECT m,
             (CAST(s AS DOUBLE) / m) / {_EB_SCALE}.0 AS mbar,
             ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / m) / (m - 1))
               / {_EB_SCALE * _EB_SCALE}.0 AS varr
      FROM mom),
    k AS (
      SELECT m, mbar, varr,
             CASE WHEN varr > 0
                       AND mbar * (1.0 - mbar) / varr - 1.0 > 0
                  THEN mbar * (1.0 - mbar) / varr - 1.0
                  ELSE 1.0 END AS kap
      FROM prior)
    SELECT q.user_id, q.x, q.n,
           round(CAST(q.x AS DOUBLE) / q.n, 6) + 0.0 AS raw_rate,
           round((q.x + k.mbar * k.kap) / (q.n + k.kap), 6) + 0.0
             AS shrunk_rate
    FROM q CROSS JOIN k
    """,
)
def q_eb_shrinkage(spark, sf_dir):
    """Empirical-Bayes beta-binomial shrinkage of per-user purchase
    rates: the method-of-moments prior (alpha = mbar*kappa, kappa from
    the mean/variance of quantized user rates) pulls small-sample user
    rates toward the population mean — the estimator that makes
    per-entity rate rankings usable (raw rates make 1/1 beat 95/100).
    Rates quantize to 1e6 BIGINTs so the cross-user moment sums are
    exact; every float after is a mirrored chain over the 1-row prior
    attach.  Plan: one user agg, one 1-row moment agg, broadcast."""
    ev = load(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long").alias("x"),
    )
    q = pu.select(
        "user_id", "n", "x",
        F.floor(F.lit(float(_EB_SCALE)) * F.col("x") / F.col("n"))
        .cast("long").alias("rq"),
    )
    from nonconsumptive_spark.plans.checkpoint import materialize_once
    q = materialize_once(q, "eb_q")  # feeds the moments AND the output
    mom = q.agg(F.count("*").cast("long").alias("m"),
                F.sum("rq").cast("long").alias("s"),
                F.sum(F.col("rq") * F.col("rq")).cast("long").alias("ss"))
    prior = mom.select(
        "m",
        ((F.col("s").cast("double") / F.col("m")) / F.lit(float(_EB_SCALE)))
        .alias("mbar"),
        (((F.col("ss").cast("double")
           - F.col("s").cast("double") * F.col("s") / F.col("m"))
          / (F.col("m") - 1)) / F.lit(float(_EB_SCALE * _EB_SCALE)))
        .alias("varr"),
    )
    kraw = F.col("mbar") * (F.lit(1.0) - F.col("mbar")) / F.col("varr") \
        - F.lit(1.0)
    k = prior.select(
        "mbar",
        F.when((F.col("varr") > 0) & (kraw > 0), kraw)
        .otherwise(F.lit(1.0)).alias("kap"),
    )
    return q.crossJoin(F.broadcast(k)).select(
        "user_id", "x", "n",
        (F.round(F.col("x").cast("double") / F.col("n"), 6)
         + F.lit(0.0)).alias("raw_rate"),
        (F.round((F.col("x") + F.col("mbar") * F.col("kap"))
                 / (F.col("n") + F.col("kap")), 6)
         + F.lit(0.0)).alias("shrunk_rate"),
    )


# -- covariate balance (standardized mean differences) -----------------------
_CB_COVS = ("n_events", "total_value_c", "n_active_days", "n_types")


@register(
    "q_covariate_balance",
    f"""
    WITH pu AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treat,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(floor(coalesce(value, 0) * 100 + 0.5)
                  AS BIGINT)) AS BIGINT) AS total_value_c,
             CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
               AS n_active_days,
             CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
      FROM events GROUP BY user_id),
    long AS (
      SELECT treat, 'n_events' AS covariate, n_events AS xq FROM pu
      UNION ALL
      SELECT treat, 'total_value_c', total_value_c FROM pu
      UNION ALL
      SELECT treat, 'n_active_days', n_active_days FROM pu
      UNION ALL
      SELECT treat, 'n_types', n_types FROM pu),
    mom AS (
      SELECT covariate,
             CAST(sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_t,
             CAST(sum(CASE WHEN treat = 1 THEN xq ELSE 0 END) AS BIGINT)
               AS s_t,
             CAST(sum(CASE WHEN treat = 1 THEN xq * xq ELSE 0 END)
                  AS BIGINT) AS ss_t,
             CAST(sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_c,
             CAST(sum(CASE WHEN treat = 0 THEN xq ELSE 0 END) AS BIGINT)
               AS s_c,
             CAST(sum(CASE WHEN treat = 0 THEN xq * xq ELSE 0 END)
                  AS BIGINT) AS ss_c
      FROM long GROUP BY covariate)
    SELECT covariate, n_t, n_c,
           round(CAST(s_t AS DOUBLE) / n_t, 6) + 0.0 AS mean_t,
           round(CAST(s_c AS DOUBLE) / n_c, 6) + 0.0 AS mean_c,
           CASE WHEN (((CAST(ss_t AS DOUBLE)
                        - CAST(s_t AS DOUBLE) * s_t / n_t) / (n_t - 1))
                      + ((CAST(ss_c AS DOUBLE)
                          - CAST(s_c AS DOUBLE) * s_c / n_c)
                         / (n_c - 1))) > 0 THEN
             round((CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c)
                   / sqrt((((CAST(ss_t AS DOUBLE)
                             - CAST(s_t AS DOUBLE) * s_t / n_t) / (n_t - 1))
                           + ((CAST(ss_c AS DOUBLE)
                               - CAST(s_c AS DOUBLE) * s_c / n_c)
                              / (n_c - 1))) / 2.0), 6) + 0.0
           END AS smd
    FROM mom
    """,
)
def q_covariate_balance(spark, sf_dir):
    """Covariate balance audit for the synthetic A/B assignment
    (treat = odd user_id): standardized mean difference (m_t - m_c) /
    sqrt((v_t + v_c)/2) for four user-level covariates — the |SMD| <
    0.1 randomization health check run before reading ANY experiment
    (a broken bucketing hash shows up here first, not in the outcome).
    Covariates are exact BIGINTs per user; one conditional moment agg
    per covariate row; every float is a mirrored chain.  Plan: one
    user agg, a 4-way unpivot union, one #covariates-row agg."""
    ev = load(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100
                      + F.lit(0.5)).cast("long"))
        .cast("long").alias("total_value_c"),
        F.countDistinct(F.to_date("ts")).cast("long").alias("n_active_days"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
    ).withColumn(
        "treat",
        F.when(F.col("user_id") % 2 == 1, F.lit(1)).otherwise(F.lit(0)),
    )
    from nonconsumptive_spark.plans.checkpoint import materialize_once
    pu = materialize_once(pu, "cb_pu")  # feeds all four unpivot branches
    longf = None
    for cov in _CB_COVS:
        part = pu.select("treat", F.lit(cov).alias("covariate"),
                         F.col(cov).cast("long").alias("xq"))
        longf = part if longf is None else longf.unionByName(part)
    mom = longf.groupBy("covariate").agg(
        F.sum(F.when(F.col("treat") == 1, 1).otherwise(0)).cast("long")
        .alias("n_t"),
        F.sum(F.when(F.col("treat") == 1, F.col("xq")).otherwise(0))
        .cast("long").alias("s_t"),
        F.sum(F.when(F.col("treat") == 1, F.col("xq") * F.col("xq"))
              .otherwise(0)).cast("long").alias("ss_t"),
        F.sum(F.when(F.col("treat") == 0, 1).otherwise(0)).cast("long")
        .alias("n_c"),
        F.sum(F.when(F.col("treat") == 0, F.col("xq")).otherwise(0))
        .cast("long").alias("s_c"),
        F.sum(F.when(F.col("treat") == 0, F.col("xq") * F.col("xq"))
              .otherwise(0)).cast("long").alias("ss_c"),
    )
    vt = ((F.col("ss_t").cast("double")
           - F.col("s_t").cast("double") * F.col("s_t") / F.col("n_t"))
          / (F.col("n_t") - 1))
    vc = ((F.col("ss_c").cast("double")
           - F.col("s_c").cast("double") * F.col("s_c") / F.col("n_c"))
          / (F.col("n_c") - 1))
    return mom.select(
        "covariate", "n_t", "n_c",
        (F.round(F.col("s_t").cast("double") / F.col("n_t"), 6)
         + F.lit(0.0)).alias("mean_t"),
        (F.round(F.col("s_c").cast("double") / F.col("n_c"), 6)
         + F.lit(0.0)).alias("mean_c"),
        # zero pooled variance (a constant covariate) has no SMD scale —
        # explicit NULL on both engines instead of an implicit 0/0
        F.when((vt + vc) > 0, F.round(
            (F.col("s_t").cast("double") / F.col("n_t")
             - F.col("s_c").cast("double") / F.col("n_c"))
            / F.sqrt((vt + vc) / F.lit(2.0)), 6) + F.lit(0.0))
        .alias("smd"),
    )


# -- split-conformal prediction interval for event values --------------------
_CONF_ALPHA_NUM, _CONF_ALPHA_DEN = 9, 10  # 1 - alpha = 0.9


@register(
    "q_conformal_interval",
    f"""
    WITH base AS (
      SELECT event_id, event_type,
             CAST(floor(coalesce(value, 0) * 100 + 0.5) AS BIGINT) AS xq,
             event_id % 2 AS half
      FROM events),
    mt AS (
      SELECT event_type, CAST(sum(xq) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM base WHERE half = 0 GROUP BY event_type),
    calib AS (
      SELECT b.event_id,
             CAST(floor(abs(b.xq - CAST(m.s AS DOUBLE) / m.n) * 1000)
                  AS BIGINT) AS rq
      FROM base b JOIN mt m ON m.event_type = b.event_type
      WHERE b.half = 0),
    nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM calib),
    kq AS (
      SELECT n_cal,
             CAST(floor(((n_cal + 1) * {_CONF_ALPHA_NUM} + {_CONF_ALPHA_DEN}
                         - 1) / {_CONF_ALPHA_DEN}.0) AS BIGINT) AS k
      FROM nc),
    ranked AS (
      SELECT rq, row_number() OVER (ORDER BY rq, event_id) AS rn
      FROM calib),
    qhat AS (
      SELECT k.n_cal, r.rq AS q_hat_q
      FROM kq k JOIN ranked r ON r.rn = least(k.k, k.n_cal)),
    test AS (
      SELECT CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN CAST(floor(abs(b.xq
                        - CAST(m.s AS DOUBLE) / m.n) * 1000) AS BIGINT)
                        <= q.q_hat_q THEN 1 ELSE 0 END) AS BIGINT)
               AS n_covered
      FROM base b
      JOIN mt m ON m.event_type = b.event_type
      CROSS JOIN qhat q
      WHERE b.half = 1)
    SELECT q.n_cal, t.n_test, t.n_covered,
           round(q.q_hat_q / 100000.0, 6) + 0.0 AS q_hat,
           round(CAST(t.n_covered AS DOUBLE) / t.n_test, 6) + 0.0
             AS coverage
    FROM qhat q CROSS JOIN test t
    """,
)
def q_conformal_interval(spark, sf_dir):
    """Split-conformal prediction interval around the per-type mean
    predictor: the calibration half's residual order statistic at
    ceil((n+1)(1-alpha)) gives a q_hat targeting ~90% coverage, which
    the test half then verifies empirically — the distribution-free
    uncertainty primitive for ANY scorer in the pipeline.  (Coverage is
    approximate, not the strict finite-sample guarantee: the mean
    predictor is fit on the same calibration half that supplies the
    quantile, which breaks exchangeability; split the half into
    fit/calibration thirds if the exact guarantee matters.)  Residuals quantize to exact millicent BIGINTs, the rank
    index is a pure integer ceil, coverage is one conditional sum.
    Plan: one calib agg, one global rank of the calibration residuals
    (eval-sized), broadcast 1-row q_hat attach onto the test scan."""
    from pyspark.sql import Window

    from nonconsumptive_spark.plans.checkpoint import materialize_once

    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "event_type",
        F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100
                + F.lit(0.5)).cast("long").alias("xq"),
        (F.col("event_id") % 2).alias("half"),
    )
    base = materialize_once(base, "conf_base")  # calib AND test halves
    mt = (base.filter(F.col("half") == 0).groupBy("event_type")
          .agg(F.sum("xq").cast("long").alias("s"),
               F.count("*").cast("long").alias("n")))
    resid = F.floor(F.abs(F.col("xq")
                          - F.col("s").cast("double") / F.col("n"))
                    * 1000).cast("long")
    calib = (base.filter(F.col("half") == 0)
             .join(F.broadcast(mt), "event_type")
             .select("event_id", resid.alias("rq")))
    nc = calib.agg(F.count("*").cast("long").alias("n_cal"))
    kq = nc.select(
        "n_cal",
        F.floor(((F.col("n_cal") + 1) * _CONF_ALPHA_NUM
                 + _CONF_ALPHA_DEN - 1) / F.lit(float(_CONF_ALPHA_DEN)))
        .cast("long").alias("k"),
    )
    ranked = calib.select(
        "rq", F.row_number().over(Window.orderBy("rq", "event_id"))
        .cast("long").alias("rn"))
    qhat = (kq.join(ranked,
                    F.col("rn") == F.least(F.col("k"), F.col("n_cal")))
            .select("n_cal", F.col("rq").alias("q_hat_q")))
    test = (
        base.filter(F.col("half") == 1)
        .join(F.broadcast(mt), "event_type")
        .crossJoin(F.broadcast(qhat.select("q_hat_q")))
        .agg(F.count("*").cast("long").alias("n_test"),
             F.sum(F.when(resid <= F.col("q_hat_q"), 1).otherwise(0))
             .cast("long").alias("n_covered"))
    )
    return (
        qhat.crossJoin(F.broadcast(test))
        .select(
            "n_cal", "n_test", "n_covered",
            (F.round(F.col("q_hat_q") / F.lit(100000.0), 6)
             + F.lit(0.0)).alias("q_hat"),
            (F.round(F.col("n_covered").cast("double") / F.col("n_test"), 6)
             + F.lit(0.0)).alias("coverage"),
        )
    )


# -- Weibull survival fit from the KM product-limit table --------------------
_WB_CENS_DAYS = 7       # same censoring convention as q_kaplan_meier
_WB_Q = 10**6           # ln-point quantization: keeps OLS cross-products
                        # far below 2^63 at any realistic spine size


@register(
    "q_weibull_fit",
    f"""
    WITH pu AS (
      SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
      FROM events GROUP BY user_id),
    obs AS (SELECT max(ts) AS end_ts FROM events),
    durs AS (
      SELECT CAST(date_diff('day', CAST(first_ts AS DATE),
                            CAST(last_ts AS DATE)) AS BIGINT) AS dur,
             (last_ts < end_ts - INTERVAL {_WB_CENS_DAYS} DAY) AS observed
      FROM pu CROSS JOIN obs),
    tbl AS (
      SELECT dur, CAST(count(*) AS BIGINT) AS n_all,
             CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
               AS n_event
      FROM durs GROUP BY dur),
    risk AS (
      SELECT dur, n_event,
             CAST((SELECT count(*) FROM durs)
                  - COALESCE(sum(n_all) OVER (
                      ORDER BY dur
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_risk
      FROM tbl),
    terms AS (
      SELECT dur,
             CASE WHEN n_event = 0 THEN CAST(0 AS BIGINT)
                  WHEN n_event < n_risk THEN
                    CAST(floor(1000000000.0
                         * ln(CAST(n_risk - n_event AS DOUBLE) / n_risk))
                         AS BIGINT)
                  ELSE CAST(-1000000000000000 AS BIGINT) END AS term
      FROM risk),
    surv AS (
      SELECT dur, CAST(sum(term) OVER (ORDER BY dur) AS BIGINT)
               AS log_surv_q
      FROM terms),
    pts AS (
      SELECT CAST(floor({_WB_Q}.0 * ln(CAST(dur AS DOUBLE))) AS BIGINT)
               AS xq,
             CAST(floor({_WB_Q}.0 * ln(-(log_surv_q / 1000000000.0)))
                  AS BIGINT) AS yq
      FROM surv
      WHERE dur > 0 AND log_surv_q < 0 AND log_surv_q > -100000000000000),
    ols AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xq) AS BIGINT) AS sx,
             CAST(sum(yq) AS BIGINT) AS sy,
             CAST(sum(xq * yq) AS BIGINT) AS sxy,
             CAST(sum(xq * xq) AS BIGINT) AS sxx
      FROM pts),
    fit AS (
      SELECT n,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / (n * sxx - sx * sx) AS shape
      FROM ols),
    out AS (
      SELECT f.n, f.shape,
             ((CAST(o.sy AS DOUBLE) - f.shape * o.sx) / o.n)
               / {_WB_Q}.0 AS b
      FROM fit f CROSS JOIN ols o)
    SELECT n AS n_points,
           round(shape, 6) + 0.0 AS shape,
           round(exp(-(b / shape)), 6) + 0.0 AS scale_days
    FROM out
    """,
)
def q_weibull_fit(spark, sf_dir):
    """Weibull (shape, scale) fitted to the Kaplan-Meier survival curve
    by the classic log-log linearization ln(-ln S) = k ln t - k ln
    lambda: shape < 1 reads as decreasing churn hazard, the single most
    actionable retention number the raw KM table hides.  The KM fold is
    the exact q_kaplan_meier recurrence (ln S is ALREADY the quantized
    log_surv_q sum, so -ln S is exact); the ln-ln points quantize to
    1e6 BIGINTs and the OLS runs on pure integer cross-products with
    TWO float divisions (slope, intercept).  Plan: the KM spine
    windows + one 1-row OLS agg."""
    from pyspark.sql import Window

    from nonconsumptive_spark.plans.checkpoint import materialize_once

    ev = load(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"),
                                   F.max("ts").alias("last_ts"))
    obs = ev.agg(F.max("ts").alias("end_ts"))
    durs = pu.crossJoin(F.broadcast(obs)).select(
        F.datediff(F.to_date("last_ts"), F.to_date("first_ts"))
        .cast("long").alias("dur"),
        (F.col("last_ts")
         < F.col("end_ts") - F.expr(f"INTERVAL {_WB_CENS_DAYS} DAYS"))
        .alias("observed"),
    )
    durs = materialize_once(durs, "wb_durs")
    tot = durs.agg(F.count("*").cast("long").alias("n_users"))
    tbl = durs.groupBy("dur").agg(
        F.count("*").cast("long").alias("n_all"),
        F.sum(F.col("observed").cast("long")).cast("long").alias("n_event"),
    )
    w_prev = (Window.orderBy("dur")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_cum = (Window.orderBy("dur")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    risk = tbl.crossJoin(F.broadcast(tot)).select(
        "dur", "n_event",
        (F.col("n_users")
         - F.coalesce(F.sum("n_all").over(w_prev), F.lit(0)))
        .cast("long").alias("n_risk"),
    )
    terms = risk.select(
        "dur",
        F.when(F.col("n_event") == 0, F.lit(0).cast("long"))
        .when(
            F.col("n_event") < F.col("n_risk"),
            F.floor(F.lit(1e9) * F.log(
                (F.col("n_risk") - F.col("n_event")).cast("double")
                / F.col("n_risk"))).cast("long"),
        )
        .otherwise(F.lit(-(10 ** 15)).cast("long")).alias("term"),
    )
    surv = terms.select(
        "dur", F.sum("term").over(w_cum).cast("long").alias("log_surv_q"))
    pts = surv.filter(
        (F.col("dur") > 0) & (F.col("log_surv_q") < 0)
        & (F.col("log_surv_q") > -(10 ** 14))
    ).select(
        F.floor(F.lit(float(_WB_Q)) * F.log(F.col("dur").cast("double")))
        .cast("long").alias("xq"),
        F.floor(F.lit(float(_WB_Q))
                * F.log(-(F.col("log_surv_q") / F.lit(1e9))))
        .cast("long").alias("yq"),
    )
    ols = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xq").cast("long").alias("sx"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).cast("long").alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).cast("long").alias("sxx"),
    )
    fit = ols.select(
        "n", "sx", "sy",
        ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
         .cast("double")
         / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
        .alias("shape"),
    )
    out = fit.select(
        "n", "shape",
        (((F.col("sy").cast("double") - F.col("shape") * F.col("sx"))
          / F.col("n")) / F.lit(float(_WB_Q))).alias("b"),
    )
    return out.select(
        F.col("n").alias("n_points"),
        (F.round(F.col("shape"), 6) + F.lit(0.0)).alias("shape"),
        (F.round(F.exp(-(F.col("b") / F.col("shape"))), 6)
         + F.lit(0.0)).alias("scale_days"),
    )


# -- capture-recapture population estimate -----------------------------------
@register(
    "q_capture_recapture",
    """
    WITH span AS (
      SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
      FROM events),
    occ AS (
      SELECT user_id,
             max(CASE WHEN 2 * date_diff('day', d0, CAST(ts AS DATE))
                      < date_diff('day', d0, d1) + 1 THEN 1 ELSE 0 END)
               AS in_a,
             max(CASE WHEN 2 * date_diff('day', d0, CAST(ts AS DATE))
                      >= date_diff('day', d0, d1) + 1 THEN 1 ELSE 0 END)
               AS in_b
      FROM events CROSS JOIN span GROUP BY user_id),
    counts AS (
      SELECT CAST(sum(in_a) AS BIGINT) AS n1,
             CAST(sum(in_b) AS BIGINT) AS n2,
             CAST(sum(in_a * in_b) AS BIGINT) AS m,
             CAST(count(*) AS BIGINT) AS n_seen
      FROM occ)
    SELECT n1, n2, m, n_seen,
           round((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1.0, 6)
             + 0.0 AS n_chapman,
           round(sqrt((CAST(n1 + 1 AS DOUBLE) * (n2 + 1) * (n1 - m)
                       * (n2 - m))
                      / ((CAST(m + 1 AS DOUBLE) * (m + 1)) * (m + 2))), 6)
             + 0.0 AS se_chapman,
           CASE WHEN m > 0 THEN
             round(CAST(n1 AS DOUBLE) * n2 / m, 6) + 0.0 END
             AS n_lincoln_petersen
    FROM counts
    """,
)
def q_capture_recapture(spark, sf_dir):
    """Chapman capture-recapture estimate of the TOTAL user population
    from two overlapping observation windows (first/second half of the
    time span) — the mark-recapture estimator a data pipeline uses to
    size an unseen population from overlapping crawls or dedup samples:
    N_hat = (n1+1)(n2+1)/(m+1) - 1 with its closed-form SE, plus the
    classic Lincoln-Petersen n1*n2/m for reference.  Occurrence flags
    are one user agg over integer date arithmetic; every float is a
    mirrored chain over four exact counts.  Plan: one 1-row span
    attach, one user agg, one 1-row count agg."""
    ev = load(spark, sf_dir, "events")
    span = ev.agg(F.min(F.to_date("ts")).alias("d0"),
                  F.max(F.to_date("ts")).alias("d1"))
    half = (F.lit(2) * F.datediff(F.to_date("ts"), F.col("d0"))
            >= F.datediff(F.col("d1"), F.col("d0")) + F.lit(1))
    occ = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(F.max(F.when(~half, 1).otherwise(0)).alias("in_a"),
             F.max(F.when(half, 1).otherwise(0)).alias("in_b"))
    )
    counts = occ.agg(
        F.sum("in_a").cast("long").alias("n1"),
        F.sum("in_b").cast("long").alias("n2"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("m"),
        F.count("*").cast("long").alias("n_seen"),
    )
    n1, n2, m = F.col("n1"), F.col("n2"), F.col("m")
    return counts.select(
        "n1", "n2", "m", "n_seen",
        (F.round((n1 + 1).cast("double") * (n2 + 1) / (m + 1) - F.lit(1.0),
                 6) + F.lit(0.0)).alias("n_chapman"),
        (F.round(F.sqrt(
            ((n1 + 1).cast("double") * (n2 + 1) * (n1 - m) * (n2 - m))
            / (((m + 1).cast("double") * (m + 1)) * (m + 2))), 6)
         + F.lit(0.0)).alias("se_chapman"),
        F.when(m > 0, F.round(n1.cast("double") * n2 / m, 6)
               + F.lit(0.0)).alias("n_lincoln_petersen"),
    )


# -- log-rank test between user cohorts --------------------------------------
_LR_CENS_DAYS = 7   # the q_kaplan_meier censoring convention
_LR_Q = 10**9


@register(
    "q_logrank_test",
    f"""
    WITH pu AS (
      SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
      FROM events GROUP BY user_id),
    obs AS (SELECT max(ts) AS end_ts FROM events),
    durs AS (
      SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS g,
             CAST(date_diff('day', CAST(first_ts AS DATE),
                            CAST(last_ts AS DATE)) AS BIGINT) AS dur,
             CASE WHEN last_ts < end_ts - INTERVAL {_LR_CENS_DAYS} DAY
                  THEN 1 ELSE 0 END AS ev
      FROM pu CROSS JOIN obs),
    gt AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_users FROM durs GROUP BY g),
    tbl AS (
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
    wide AS (
      SELECT dur,
             CAST(sum(CASE WHEN g = 1 THEN d ELSE 0 END) AS BIGINT) AS d_a,
             CAST(sum(CASE WHEN g = 0 THEN d ELSE 0 END) AS BIGINT) AS d_b,
             CAST(sum(CASE WHEN g = 1 THEN n_risk ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN g = 0 THEN n_risk ELSE 0 END) AS BIGINT)
               AS n_b
      FROM risk GROUP BY dur),
    terms AS (
      SELECT CAST(floor({_LR_Q}.0 * (d_a - (d_a + d_b)
                   * (CAST(n_a AS DOUBLE) / (n_a + n_b)))) AS BIGINT)
               AS oe_q,
             CAST(floor({_LR_Q}.0 * (((d_a + d_b)
                   * (CAST(n_a AS DOUBLE) / (n_a + n_b))
                   * (CAST(n_b AS DOUBLE) / (n_a + n_b))
                   * (n_a + n_b - d_a - d_b)) / (n_a + n_b - 1)))
               AS BIGINT) AS v_q
      FROM wide
      WHERE d_a + d_b > 0 AND n_a + n_b > 1),
    agg AS (
      SELECT CAST(coalesce(sum(oe_q), 0) AS BIGINT) AS oe_s,
             CAST(coalesce(sum(v_q), 0) AS BIGINT) AS v_s
      FROM terms)
    SELECT (SELECT n_users FROM gt WHERE g = 1) AS n_treat,
           (SELECT n_users FROM gt WHERE g = 0) AS n_control,
           oe_s, v_s,
           CASE WHEN v_s > 0 THEN
             round(((oe_s / {_LR_Q}.0) * (oe_s / {_LR_Q}.0))
                   / (v_s / {_LR_Q}.0), 6) + 0.0
           END AS chi2
    FROM agg
    """,
)
def q_logrank_test(spark, sf_dir):
    """Log-rank (Mantel-Cox) test of survival-curve equality between the
    odd/even user cohorts — the hypothesis test the KM / Nelson-Aalen /
    Weibull descriptive battery was missing: at each event time the
    observed-minus-expected treatment events and the hypergeometric
    variance accumulate; chi2 = (sum O-E)^2 / sum V on 1 df.  Per-time
    terms floor-quantize to 1e-9 BIGINTs (each is a mirrored chain over
    exact risk-set integers), so the sums are order-free.  Plan: one
    user agg, the KM duration-spine windows PARTITIONED BY cohort, one
    1-row agg."""
    from pyspark.sql import Window

    from nonconsumptive_spark.plans.checkpoint import materialize_once

    ev = load(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"),
                                   F.max("ts").alias("last_ts"))
    obs = ev.agg(F.max("ts").alias("end_ts"))
    durs = pu.crossJoin(F.broadcast(obs)).select(
        F.when(F.col("user_id") % 2 == 1, F.lit(1)).otherwise(F.lit(0))
        .alias("g"),
        F.datediff(F.to_date("last_ts"), F.to_date("first_ts"))
        .cast("long").alias("dur"),
        F.when(F.col("last_ts") < F.col("end_ts")
               - F.expr(f"INTERVAL {_LR_CENS_DAYS} DAYS"), F.lit(1))
        .otherwise(F.lit(0)).alias("ev"),
    )
    durs = materialize_once(durs, "lr_durs")  # totals AND the table
    gt = durs.groupBy("g").agg(F.count("*").cast("long").alias("n_users"))
    tbl = durs.groupBy("g", "dur").agg(
        F.count("*").cast("long").alias("n_all"),
        F.sum("ev").cast("long").alias("d"))
    tbl = materialize_once(tbl, "lr_tbl")  # grid spine AND values
    grid = (
        tbl.select("dur").distinct()
        .crossJoin(F.broadcast(gt.select("g")))
        .join(tbl, ["g", "dur"], "left")
        .select("g", "dur",
                F.coalesce("n_all", F.lit(0)).cast("long").alias("n_all"),
                F.coalesce("d", F.lit(0)).cast("long").alias("d"))
    )
    w_prev = (Window.partitionBy("g").orderBy("dur")
              .rowsBetween(Window.unboundedPreceding, -1))
    risk = (
        grid.join(F.broadcast(gt), "g")
        .select("g", "dur", "d",
                (F.col("n_users")
                 - F.coalesce(F.sum("n_all").over(w_prev), F.lit(0)))
                .cast("long").alias("n_risk"))
    )
    wide = risk.groupBy("dur").agg(
        F.sum(F.when(F.col("g") == 1, F.col("d")).otherwise(0))
        .cast("long").alias("d_a"),
        F.sum(F.when(F.col("g") == 0, F.col("d")).otherwise(0))
        .cast("long").alias("d_b"),
        F.sum(F.when(F.col("g") == 1, F.col("n_risk")).otherwise(0))
        .cast("long").alias("n_a"),
        F.sum(F.when(F.col("g") == 0, F.col("n_risk")).otherwise(0))
        .cast("long").alias("n_b"),
    )
    n = F.col("n_a") + F.col("n_b")
    d = F.col("d_a") + F.col("d_b")
    terms = wide.filter((d > 0) & (n > 1)).select(
        F.floor(F.lit(float(_LR_Q))
                * (F.col("d_a")
                   - d * (F.col("n_a").cast("double") / n)))
        .cast("long").alias("oe_q"),
        F.floor(F.lit(float(_LR_Q))
                * ((d * (F.col("n_a").cast("double") / n)
                    * (F.col("n_b").cast("double") / n)
                    * (n - d)) / (n - 1)))
        .cast("long").alias("v_q"),
    )
    # fully-censored spines (no observed events) leave terms empty:
    # coalesce to 0 and guard chi2 with an explicit mirrored NULL
    agg = terms.agg(
        F.coalesce(F.sum("oe_q"), F.lit(0)).cast("long").alias("oe_s"),
        F.coalesce(F.sum("v_q"), F.lit(0)).cast("long").alias("v_s"))
    nt = gt.filter(F.col("g") == 1).select(
        F.col("n_users").alias("n_treat"))
    nc = gt.filter(F.col("g") == 0).select(
        F.col("n_users").alias("n_control"))
    return (
        agg.crossJoin(F.broadcast(nt)).crossJoin(F.broadcast(nc))
        .select(
            "n_treat", "n_control", "oe_s", "v_s",
            F.when(F.col("v_s") > 0, F.round(
                ((F.col("oe_s") / F.lit(float(_LR_Q)))
                 * (F.col("oe_s") / F.lit(float(_LR_Q))))
                / (F.col("v_s") / F.lit(float(_LR_Q))), 6)
                + F.lit(0.0)).alias("chi2"),
        )
    )


# -- Friedman blocked rank test over the daily type mix ----------------------
@register(
    "q_friedman_daily",
    """
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    types AS (SELECT DISTINCT event_type FROM events),
    cnt AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    grid AS (
      SELECT d.day, t.event_type, CAST(coalesce(c.c, 0) AS BIGINT) AS c
      FROM days d CROSS JOIN types t
      LEFT JOIN cnt c ON c.day = d.day AND c.event_type = t.event_type),
    rn AS (
      SELECT day, event_type, c,
             CAST(row_number() OVER (
               PARTITION BY day ORDER BY c, event_type) AS BIGINT) AS r
      FROM grid),
    mid AS (
      SELECT day, c, CAST(min(r) + max(r) AS BIGINT) AS mr2
      FROM rn GROUP BY day, c),
    ranked AS (
      SELECT r.event_type, m.mr2
      FROM rn r JOIN mid m ON m.day = r.day AND m.c = r.c),
    rsum AS (
      SELECT event_type, CAST(sum(mr2) AS BIGINT) AS r2
      FROM ranked GROUP BY event_type),
    dims AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM days) AS n,
             (SELECT CAST(count(*) AS BIGINT) FROM types) AS k),
    agg AS (
      SELECT CAST(sum(r2 * r2) AS BIGINT) AS ss,
             CAST(count(*) AS BIGINT) AS k_chk
      FROM rsum)
    SELECT d.n AS n_days, d.k AS k_types,
           round(3.0 * a.ss / (d.n * d.k * (d.k + 1))
                 - 3.0 * d.n * (d.k + 1), 6) + 0.0 AS q_stat
    FROM agg a CROSS JOIN dims d
    """,
)
def q_friedman_daily(spark, sf_dir):
    """Friedman blocked rank test: do the event types keep the SAME
    volume ordering across days?  Blocks = days, treatments = types,
    within-day MIDRANKS carried doubled (min_rank + max_rank per tied
    count — exact integers), so the rank sums and the statistic
    Q = 3*sum(R2_j^2)/(n k (k+1)) - 3 n (k+1) (the R = R2/2
    substitution, no tie-correction denominator — documented) are pure
    integer arithmetic with one mirrored float chain.  The blocked
    companion to q_kruskal_wallis's one-way test.  Plan: one (day,
    type) agg, day-partitioned windows over the #days x #types grid,
    two 1-row attaches."""
    from pyspark.sql import Window

    from nonconsumptive_spark.plans.checkpoint import materialize_once

    ev = load(spark, sf_dir, "events")
    cnt = ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count("*").cast("long").alias("c"))
    cnt = materialize_once(cnt, "fr_cnt")  # spine dims AND values
    days = cnt.select("day").distinct()
    types = cnt.select("event_type").distinct()
    grid = (days.crossJoin(F.broadcast(types))
            .join(cnt, ["day", "event_type"], "left")
            .select("day", "event_type",
                    F.coalesce("c", F.lit(0)).cast("long").alias("c")))
    w = Window.partitionBy("day").orderBy("c", "event_type")
    rn = grid.select("day", "event_type", "c",
                     F.row_number().over(w).cast("long").alias("r"))
    rn = materialize_once(rn, "fr_rn")  # midranks AND the join back
    mid = rn.groupBy("day", "c").agg(
        (F.min("r") + F.max("r")).cast("long").alias("mr2"))
    ranked = rn.join(mid, ["day", "c"])
    rsum = ranked.groupBy("event_type").agg(
        F.sum("mr2").cast("long").alias("r2"))
    nd = days.agg(F.count("*").cast("long").alias("n"))
    kt = types.agg(F.count("*").cast("long").alias("k"))
    agg = rsum.agg(F.sum(F.col("r2") * F.col("r2")).cast("long")
                   .alias("ss"))
    return (
        agg.crossJoin(F.broadcast(nd)).crossJoin(F.broadcast(kt))
        .select(
            F.col("n").alias("n_days"), F.col("k").alias("k_types"),
            (F.round(F.lit(3.0) * F.col("ss")
                     / (F.col("n") * F.col("k") * (F.col("k") + 1))
                     - F.lit(3.0) * F.col("n") * (F.col("k") + 1), 6)
             + F.lit(0.0)).alias("q_stat"),
        )
    )


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


@register("q_cox_ph", _cox_oracle())
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


# -- Jonckheere-Terpstra ordered trend test -----------------------------------
@register(
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
@register(
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


# -- Page's L ordered trend test over blocked ranks ---------------------------
@register(
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


# -- Ljung-Box portmanteau test on the daily event-count series --------------
_LB_MAX_LAG = 7
_LB_Q = 10**12  # r_k^2/n_pairs quantization; cumulative sum <= 7e12 << 2^63
# identical SQL text runs on BOTH engines (Spark SQL and DuckDB agree on
# floor/CAST semantics), so the per-lag contribution is bit-mirrored:
_LB_CQ = (
    "CASE WHEN den > 0 AND n_pairs > 0"
    f" THEN CAST(floor({_LB_Q}.0 * (CAST(num AS DOUBLE) / den)"
    "           * (CAST(num AS DOUBLE) / den) / n_pairs) AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
)
_LB_QSTAT = (
    f"round(CAST(n AS DOUBLE) * (n + 2) * cum / {_LB_Q}.0, 4) + 0.0"
)


@register(
    "q_ljung_box",
    f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s
      FROM daily),
    dev AS (
      SELECT d, t.n * c - t.s AS e, t.n AS n FROM daily CROSS JOIN tot t),
    den AS (SELECT CAST(sum(e * e) AS BIGINT) AS den FROM dev),
    lags AS (SELECT unnest(range(1, {_LB_MAX_LAG} + 1)) AS lag),
    nums AS (
      SELECT l.lag,
             CAST(COALESCE(sum(a.e * b.e), 0) AS BIGINT) AS num,
             CAST(count(b.e) AS BIGINT) AS n_pairs
      FROM lags l
      LEFT JOIN dev a ON TRUE
      LEFT JOIN dev b ON b.d = a.d + CAST(l.lag AS BIGINT) * INTERVAL 1 DAY
      GROUP BY l.lag),
    contrib AS (
      SELECT lag, n_pairs, {_LB_CQ} AS cq, t.n
      FROM nums CROSS JOIN den CROSS JOIN tot t)
    SELECT CAST(lag AS BIGINT) AS lag, n_pairs, cq,
           CAST(sum(cq) OVER (ORDER BY lag) AS BIGINT) AS cum_q,
           {_LB_QSTAT.replace('cum', 'sum(cq) OVER (ORDER BY lag)')} AS q_stat
    FROM contrib
    """,
)
def q_ljung_box(spark, sf_dir):
    """Ljung-Box portmanteau test (gap-robust variant) on the daily
    event-count series: Q_m = n(n+2) * sum_{{k<=m}} r_k^2 / n_pairs_k,
    one row per lag with the cumulative statistic — the is-this-series-
    white-noise readout that decides whether the ACF family's lags
    (q_daily_autocorr, same exact-integer r_k) mean anything.  The
    classical divisor n-k assumes a gapless calendar; we use the
    observed pair count (equal when no days are missing) and say so.

    Exactness: deviations scale by n so num/den are exact BIGINTs
    (reused q_daily_autocorr discipline; n*max_daily_count beyond ~3e9
    — roughly 2000x sf0.1 — would overflow the e*e sum, documented
    headroom); each lag's r_k^2/n_pairs floor-quantizes to 1e12 BIGINTs
    so the cumulative sum is order-free; the only engine-float steps
    are the shared-text quantized expression (floor of an identical
    double chain, the documented libm-equality class) and one rounded
    emit.  Plan: everything after the daily agg is day-spine-sized
    (#days x 7 lag rows); the lag window orders 7 rows."""
    from nonconsumptive_spark.plans.checkpoint import materialize_once
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    daily = materialize_once(daily, "lb_daily")
    tot = daily.agg(F.count("*").cast("long").alias("n"),
                    F.sum("c").cast("long").alias("s"))
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "d", (F.col("n") * F.col("c") - F.col("s")).cast("long").alias("e"),
        "n")
    dev = materialize_once(dev, "lb_dev")
    den = dev.agg(F.sum(F.col("e") * F.col("e")).cast("long").alias("den"))
    lags = spark.range(1, _LB_MAX_LAG + 1).select(
        F.col("id").cast("long").alias("lag"))
    a = dev.select("d", F.col("e").alias("ea"))
    b = dev.select(F.col("d").alias("db"), F.col("e").alias("eb"))
    pairs = (
        lags.crossJoin(a)
        .join(b, F.col("db") == F.expr("date_add(d, CAST(lag AS INT))"),
              "left")
    )
    nums = pairs.groupBy("lag").agg(
        F.coalesce(F.sum(F.col("ea") * F.col("eb")), F.lit(0))
        .cast("long").alias("num"),
        F.count("eb").cast("long").alias("n_pairs"),
    )
    contrib = (
        nums.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(tot.select("n")))
        .selectExpr("lag", "n_pairs", f"{_LB_CQ} AS cq", "n")
    )
    w = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    return contrib.select(
        "lag", "n_pairs", "cq",
        F.sum("cq").over(w).cast("long").alias("cum_q"),
        F.expr(_LB_QSTAT.replace(
            "cum", f"sum(cq) OVER (ORDER BY lag ROWS BETWEEN UNBOUNDED "
                   f"PRECEDING AND CURRENT ROW)")).alias("q_stat"),
    )


# -- Mood's median test (two-sample location on doc length) ------------------
_MOOD_CHI2 = (
    "CASE WHEN (a + b) > 0 AND (c + d) > 0 AND (a + c) > 0 AND (b + d) > 0"
    " THEN round(CAST(a + b + c + d AS DOUBLE)"
    "      * (CAST(a * d - b * c AS DOUBLE) * CAST(a * d - b * c AS DOUBLE))"
    "      / (CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)), 4) + 0.0"
    " ELSE NULL END"
)


@register(
    "q_mood_median",
    f"""
    WITH lens AS (
      SELECT doc_id % 2 AS g,
             CAST(len({_DUCK_TOKS}) AS BIGINT) AS v
      FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents) documents),
    hist AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM lens GROUP BY v),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
    med AS (
      SELECT min(v) AS med FROM (
        SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, t.n
        FROM hist CROSS JOIN tot t)
      WHERE cum >= (n + 1) // 2),
    cells AS (
      SELECT CAST(sum(CASE WHEN g = 0 AND v > m.med THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN g = 0 AND v <= m.med THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN g = 1 AND v > m.med THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN g = 1 AND v <= m.med THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(max(m.med) AS BIGINT) AS med
      FROM lens CROSS JOIN med m)
    SELECT med, a, b, c, d, {_MOOD_CHI2} AS chi2
    FROM cells
    """,
)
def q_mood_median(spark, sf_dir):
    """Mood's median test: are even-id and odd-id documents drawn from
    length distributions with the same median?  Grand median located on
    the VALUE HISTOGRAM (min length with cumulative count >= (n+1) div 2
    — the bounded-window discipline, window rows = distinct lengths,
    never docs), then the 2x2 above/at-or-below table and the
    chi-square in its closed 2x2 form N(ad-bc)^2/(r1 r2 c1 c2) — one
    mirrored double expression, no float sums.  a*d stays BIGINT-exact
    to ~3e9 docs per group (~50,000x sf0.1); zero marginals emit a
    mirrored NULL.  Plan: one tokenize scan, a histogram agg, a
    histogram-sized window, one 1-row broadcast back over the lengths."""
    from pyspark.sql import Window

    from nonconsumptive_spark.functions.text import tokenize

    lens = load(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 2).alias("g"),
        F.size(tokenize(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long").alias("v"),
    )
    hist = lens.groupBy("v").agg(F.count("*").cast("long").alias("cnt"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding,
                                         Window.currentRow)
    tot = hist.agg(F.sum("cnt").cast("long").alias("n"))
    spine = hist.crossJoin(F.broadcast(tot)).select(
        "v", F.sum("cnt").over(wv).alias("cum"), "n")
    med = (spine.filter(F.col("cum") >= F.expr("(n + 1) div 2"))
           .agg(F.min("v").alias("med")))
    cells = lens.crossJoin(F.broadcast(med)).agg(
        F.sum(F.when((F.col("g") == 0) & (F.col("v") > F.col("med")), 1)
              .otherwise(0)).cast("long").alias("a"),
        F.sum(F.when((F.col("g") == 0) & (F.col("v") <= F.col("med")), 1)
              .otherwise(0)).cast("long").alias("b"),
        F.sum(F.when((F.col("g") == 1) & (F.col("v") > F.col("med")), 1)
              .otherwise(0)).cast("long").alias("c"),
        F.sum(F.when((F.col("g") == 1) & (F.col("v") <= F.col("med")), 1)
              .otherwise(0)).cast("long").alias("d"),
        F.max("med").cast("long").alias("med"),
    )
    return cells.selectExpr("med", "a", "b", "c", "d",
                            f"{_MOOD_CHI2} AS chi2")


# -- Cochran's Q over the daily type-presence design --------------------------
_CQ_STAT = (
    "CASE WHEN k * n_present - sum_r2 > 0"
    " THEN round(CAST((k - 1) * (k * sum_c2 - n_present * n_present)"
    "            AS DOUBLE) / (k * n_present - sum_r2), 4) + 0.0"
    " ELSE NULL END"
)


@register(
    "q_cochran_q",
    f"""
    WITH present AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, event_type AS t
      FROM events),
    kk AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM present),
    rows_ AS (
      SELECT d, CAST(count(*) AS BIGINT) AS r FROM present GROUP BY d),
    cols_ AS (
      SELECT t, CAST(count(*) AS BIGINT) AS c FROM present GROUP BY t),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(r) AS BIGINT) AS n_present,
             CAST(sum(r * r) AS BIGINT) AS sum_r2
      FROM rows_),
    cagg AS (SELECT CAST(sum(c * c) AS BIGINT) AS sum_c2 FROM cols_)
    SELECT k, n_days, n_present, sum_r2, sum_c2, {_CQ_STAT} AS q
    FROM agg CROSS JOIN cagg CROSS JOIN kk
    """,
)
def q_cochran_q(spark, sf_dir):
    """Cochran's Q over the (day x event_type) presence design: do the k
    event types fire on the same set of days, or do some types have
    systematically patchier daily coverage?  The blocked binary
    companion to q_friedman_daily (which ranks counts; this tests bare
    presence).  Identity form Q = (k-1)(k*sum C_j^2 - N^2)/(kN - sum
    R_i^2): every term is an exact BIGINT over day/type marginals
    (grid is #days x #types — bounded), one guarded float division at
    emit; the all-types-every-day design has zero denominator and
    emits a mirrored NULL.  Plan: one distinct over (day, type), two
    marginal aggs, 1-row cross joins — corpus-size independent after
    the distinct."""
    present = (
        load(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("d"), F.col("event_type").alias("t"))
        .distinct()
    )
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    present = materialize_once(present, "cq_present")
    kk = present.agg(F.countDistinct("t").cast("long").alias("k"))
    rows_ = present.groupBy("d").agg(F.count("*").cast("long").alias("r"))
    cols_ = present.groupBy("t").agg(F.count("*").cast("long").alias("c"))
    agg = rows_.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("r").cast("long").alias("n_present"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("sum_r2"),
    )
    cagg = cols_.agg(F.sum(F.col("c") * F.col("c")).cast("long")
                     .alias("sum_c2"))
    return (
        agg.crossJoin(F.broadcast(cagg)).crossJoin(F.broadcast(kk))
        .selectExpr("k", "n_days", "n_present", "sum_r2", "sum_c2",
                    f"{_CQ_STAT} AS q")
    )


# -- Wilcoxon signed-rank test (paired halves of the observation span) -------
# The missing classic of the rank lattice (MWU / KW / Friedman / Page /
# Jonckheere / Ansari-Bradley / Mood are registered): a PAIRED location
# test.  Pairing: each user's event count in the first vs second half of
# the global observation span (split at the exact integer-microsecond
# midpoint).  Doubled-midrank discipline over the |d| value histogram
# keeps 2*W+ a pure BIGINT; the only float steps are the shared-text z
# expression (one sqrt — the documented libm-equality class) and the
# rounded emit.  BIGINT headroom: v12 ~ 2n^3 for n nonzero-difference
# users — exact to ~1.6e6 users (~100x sf0.1); beyond that the variance
# term needs the same 1e-9 quantization logrank uses.
_WSR_Z = (
    "CASE WHEN v12 > 0 THEN"
    " round(CAST(num2 AS DOUBLE) / sqrt(CAST(v12 AS DOUBLE) / 12.0), 4)"
    " + 0.0 ELSE NULL END"
)


@register(
    "q_wilcoxon_signed_rank",
    f"""
    WITH span AS (
      SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS lo,
             CAST(max(epoch_us(ts)) AS BIGINT) AS hi
      FROM events),
    per_user AS (
      SELECT user_id,
             CAST(sum(CASE WHEN epoch_us(ts) - s.lo <= (s.hi - s.lo) // 2
                           THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN epoch_us(ts) - s.lo > (s.hi - s.lo) // 2
                           THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM events CROSS JOIN span s GROUP BY user_id),
    diffs AS (
      SELECT abs(c2 - c1) AS ad,
             CASE WHEN c2 > c1 THEN 1 ELSE 0 END AS pos
      FROM per_user WHERE c2 <> c1),
    hist AS (
      SELECT ad, CAST(count(*) AS BIGINT) AS t,
             CAST(sum(pos) AS BIGINT) AS cpos
      FROM diffs GROUP BY ad),
    spine AS (
      SELECT ad, t, cpos,
             CAST(coalesce(sum(t) OVER (
               ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS cum
      FROM hist),
    agg AS (
      SELECT CAST(sum(t) AS BIGINT) AS n,
             CAST(sum(cpos * (2 * cum + t + 1)) AS BIGINT) AS w2_plus,
             CAST(sum(t * t * t - t) AS BIGINT) AS tsum
      FROM spine),
    stat AS (
      SELECT n, w2_plus, n * (n + 1) - w2_plus AS w2_minus, tsum,
             w2_plus - n * (n + 1) // 2 AS num2,
             2 * n * (n + 1) * (2 * n + 1) - tsum AS v12
      FROM agg)
    SELECT n AS n_pairs, w2_plus, w2_minus, tsum AS tie_q,
           {_WSR_Z} AS z
    FROM stat
    """,
)
def q_wilcoxon_signed_rank(spark, sf_dir):
    """Wilcoxon signed-rank test: did per-user activity SHIFT between
    the first and second half of the observation window?  Pairs are
    (user's first-half count, second-half count), zero differences drop
    (standard), |d| ranks use the doubled-midrank value-histogram form
    (2*midrank = 2*cum + t + 1), so 2*W+ and the 12-scaled variance
    2n(n+1)(2n+1) - sum(t^3 - t) are exact BIGINTs; one shared-text z
    expression at emit.  Plan: one user agg with a broadcast 1-row span
    attach, a |d|-histogram agg, a histogram-bounded window, two 1-row
    aggs — corpus-size independent after the user agg."""
    from pyspark.sql import Window

    # timestampdiff works on TIMESTAMP_NTZ (which unix_micros rejects)
    # and is zone-free: offsets from the global min compare against
    # floor(span/2) — the identical exact-integer split the oracle's
    # epoch_us differences make
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    span = ev.agg(F.min("ts").alias("t_lo"), F.max("ts").alias("t_hi"))
    per_user = (
        ev.crossJoin(F.broadcast(span))
        .select(
            "user_id",
            F.expr("timestampdiff(MICROSECOND, t_lo, ts)"
                   " <= timestampdiff(MICROSECOND, t_lo, t_hi) div 2")
            .alias("first_half"),
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("first_half"), 1).otherwise(0))
            .cast("long").alias("c1"),
            F.sum(F.when(~F.col("first_half"), 1).otherwise(0))
            .cast("long").alias("c2"),
        )
    )
    diffs = per_user.filter(F.col("c2") != F.col("c1")).select(
        F.abs(F.col("c2") - F.col("c1")).alias("ad"),
        F.when(F.col("c2") > F.col("c1"), 1).otherwise(0).alias("pos"),
    )
    hist = diffs.groupBy("ad").agg(
        F.count("*").cast("long").alias("t"),
        F.sum("pos").cast("long").alias("cpos"),
    )
    w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    spine = hist.select(
        "ad", "t", "cpos",
        F.coalesce(F.sum("t").over(w), F.lit(0)).cast("long").alias("cum"))
    agg = spine.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(F.col("cpos") * (2 * F.col("cum") + F.col("t") + 1))
        .cast("long").alias("w2_plus"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long").alias("tsum"),
    )
    stat = agg.selectExpr(
        "n", "w2_plus", "n * (n + 1) - w2_plus AS w2_minus", "tsum",
        "w2_plus - n * (n + 1) div 2 AS num2",
        "2 * n * (n + 1) * (2 * n + 1) - tsum AS v12",
    )
    return stat.selectExpr(
        "n AS n_pairs", "w2_plus", "w2_minus", "tsum AS tie_q",
        f"{_WSR_Z} AS z",
    )


# -- Dunn's post-hoc pairwise test after Kruskal-Wallis ----------------------
# Which SPECIFIC source pairs differ once q_kruskal_wallis rejects?
# Dunn's z on the shared mean ranks, tie-corrected; the doubled-rank
# sums r2 = 2*R_g from the KW spine stay exact BIGINTs and the z chain
# is one shared-text double expression per pair.
_DUNN_Z = (
    "CASE WHEN n > 1 AND CAST(n AS DOUBLE) * (n + 1)"
    "               - CAST(tsum AS DOUBLE) / (n - 1) > 0 THEN"
    " round((CAST(r2a AS DOUBLE) / na - CAST(r2b AS DOUBLE) / nb)"
    "       / (2.0 * sqrt((CAST(n AS DOUBLE) * (n + 1)"
    "                      - CAST(tsum AS DOUBLE) / (n - 1)) / 12.0"
    "                     * (1.0 / na + 1.0 / nb))), 4) + 0.0"
    " ELSE NULL END"
)


@register(
    "q_dunn_posthoc",
    f"""
    WITH counts AS (
      SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY source, n_chars),
    spine AS (
      SELECT v, t,
             CAST(coalesce(sum(t) OVER (
               ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS cum
      FROM (SELECT v, CAST(sum(c) AS BIGINT) AS t
            FROM counts GROUP BY v)),
    grp AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_g,
             CAST(sum(c * (2 * s.cum + s.t + 1)) AS BIGINT) AS r2
      FROM counts JOIN spine s USING (v)
      GROUP BY source),
    tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n FROM grp),
    ties AS (
      SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tsum FROM spine)
    SELECT a.source AS source_a, b.source AS source_b,
           a.n_g AS na, b.n_g AS nb,
           a.r2 AS r2a, b.r2 AS r2b,
           {_DUNN_Z} AS z
    FROM grp a
    JOIN grp b ON a.source < b.source
    CROSS JOIN tot CROSS JOIN ties
    """,
)
def q_dunn_posthoc(spark, sf_dir):
    """Dunn's post-hoc: pairwise tie-corrected z between every source
    pair on the SAME doubled-midrank design as q_kruskal_wallis (which
    only says "some source differs"; this says which).  r2 = 2*R_g per
    group is a pure BIGINT off the value spine; each pair's z is one
    shared-text double chain (sqrt = the documented libm-equality
    class).  Plan: the KW aggs plus a k x k broadcast self-join of the
    k-row group frame — pair count is source-cardinality bounded, never
    row-bounded."""
    from pyspark.sql import Window

    counts = (
        load(spark, sf_dir, "documents")
        .groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    spine = (
        counts.groupBy("v").agg(F.sum("c").cast("long").alias("t"))
        .select("v", "t",
                F.coalesce(F.sum("t").over(w), F.lit(0))
                .cast("long").alias("cum"))
    )
    grp = (
        counts.join(F.broadcast(spine), "v")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(F.col("c") * (2 * F.col("cum") + F.col("t") + 1))
            .cast("long").alias("r2"),
        )
    )
    tot = grp.agg(F.sum("n_g").cast("long").alias("n"))
    ties = spine.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long").alias("tsum"))
    a = grp.select(F.col("source").alias("source_a"),
                   F.col("n_g").alias("na"), F.col("r2").alias("r2a"))
    b = grp.select(F.col("source").alias("source_b"),
                   F.col("n_g").alias("nb"), F.col("r2").alias("r2b"))
    return (
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(ties))
        .selectExpr("source_a", "source_b", "na", "nb", "r2a", "r2b",
                    f"{_DUNN_Z} AS z")
    )


# -- Cliff's delta (ordinal effect size, odd vs even doc ids) ----------------
_CLIFF_D = (
    "CASE WHEN na > 0 AND nb > 0 THEN"
    " round((CAST(gt AS DOUBLE) - lt)"
    "       / (CAST(na AS DOUBLE) * nb), 6) + 0.0 ELSE NULL END"
)


@register(
    "q_cliffs_delta",
    f"""
    WITH lens AS (
      SELECT doc_id % 2 AS g, CAST(n_chars AS BIGINT) AS v
      FROM documents),
    hist AS (
      SELECT v,
             CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM lens GROUP BY v),
    spine AS (
      SELECT v, ca, cb,
             CAST(coalesce(sum(cb) OVER (
               ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS cumb
      FROM hist),
    agg AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na,
             CAST(sum(cb) AS BIGINT) AS nb,
             CAST(sum(ca * cumb) AS BIGINT) AS gt,
             CAST(sum(ca * cb) AS BIGINT) AS ties
      FROM spine),
    stat AS (
      SELECT na, nb, gt, na * nb - gt - ties AS lt, ties FROM agg)
    SELECT na, nb, gt, lt, ties, {_CLIFF_D} AS delta
    FROM stat
    """,
)
def q_cliffs_delta(spark, sf_dir):
    """Cliff's delta between even-id and odd-id documents on n_chars:
    the ordinal effect size (P[X>Y] - P[X<Y]) the parametric
    q_cohens_d_sources and the test-only q_mann_whitney can't report.
    Every cross-pair count comes from the value histogram (gt = sum_v
    ca(v) * cumB(<v); lt by complement) — exact BIGINTs, one mirrored
    division at emit.  a*b products stay exact to ~3e9 docs per group.
    Plan: one histogram agg, a histogram-bounded window, one 1-row agg
    — never a pair join."""
    from pyspark.sql import Window

    lens = load(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 2).alias("g"),
        F.col("n_chars").cast("long").alias("v"))
    hist = lens.groupBy("v").agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0))
        .cast("long").alias("ca"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
        .cast("long").alias("cb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    spine = hist.select(
        "v", "ca", "cb",
        F.coalesce(F.sum("cb").over(w), F.lit(0)).cast("long").alias("cumb"))
    agg = spine.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.sum(F.col("ca") * F.col("cumb")).cast("long").alias("gt"),
        F.sum(F.col("ca") * F.col("cb")).cast("long").alias("ties"),
    )
    stat = agg.selectExpr("na", "nb", "gt",
                          "na * nb - gt - ties AS lt", "ties")
    return stat.selectExpr("na", "nb", "gt", "lt", "ties",
                           f"{_CLIFF_D} AS delta")
