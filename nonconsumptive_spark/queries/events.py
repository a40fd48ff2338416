"""Event-time queries over `events` (SURVEY §2.9 batch forms + F18 JSON):
windows, sessions, funnels and attribution, cohort and retention
analytics, daily-series anomaly and changepoint detection, and
privacy diagnostics over event quasi-identifiers.

The same logic runs under Structured Streaming (see
``nonconsumptive_spark/streaming/``); here it is executed in batch so the
DuckDB oracle can check it.  Timestamps are emitted as formatted strings so
the value-hash is timezone-stable.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nonconsumptive_spark.queries import load, register
from nonconsumptive_spark.queries.textstats import _ENT_SCALE


# --------------------------------------------------------------------------
@register(
    "q_events_tumbling",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling event-time window aggregation (batch form of the streaming "
        "operator; SURVEY §2.9).",
)
def q_events_tumbling(spark, sf_dir):
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


# --------------------------------------------------------------------------
@register(
    "q_events_sliding",
    oracle="""
    SELECT strftime(win, '%Y-%m-%d %H:%M:%S') AS window_start,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total_value
    FROM (
      SELECT unnest([
               time_bucket(INTERVAL '30 minutes', ts),
               time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
             ]) AS win,
             value
      FROM events)
    WHERE win IS NOT NULL
    GROUP BY 1
    """,
    doc="Sliding window (1h width, 30m slide): each event lands in 2 windows. "
        "Oracle enumerates the two member windows per event explicitly.",
)
def q_events_sliding(spark, sf_dir):
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
            "total_value",
        )
    )


# --------------------------------------------------------------------------
@register(
    "q_events_session",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="Session windows with a 30-minute gap (SURVEY §2.9): Spark uses the "
        "built-in session_window; the oracle derives identical sessions via "
        "gaps-and-islands.",
)
def q_events_session(spark, sf_dir):
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


# --------------------------------------------------------------------------
@register(
    "q_events_json",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(CASE WHEN json_valid(props)
                              THEN json_extract_string(props, '$.k') END
                         AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    """,
    doc="F18: JSON field extraction from a string column, then aggregate.  "
        "Malformed JSON yields NULL in Spark's get_json_object; the oracle "
        "needs an explicit json_valid guard because DuckDB's extractor "
        "raises on bad input instead.",
)
def q_events_json(spark, sf_dir):
    return (
        load(spark, sf_dir, "events")
        .select("event_type", F.get_json_object("props", "$.k").cast("long").alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
@register(
    "q_events_user_running",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 2) AS running_value
    FROM events
    """,
    doc="Analytic frame (running sum per user) — extension window surface "
        "(SURVEY §2.5 note).",
)
def q_events_user_running(spark, sf_dir):
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


# --------------------------------------------------------------------------
@register(
    "q_click_attribution",
    oracle="""
    SELECT p.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           round(p.value, 2) AS amount
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND p.ts <= c.ts + INTERVAL '1 hour'
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
    doc="Event-time-bounded self-join (attribution: purchase to same-user "
        "click within 1 hour) — the batch oracle for the stream-stream join "
        "in streaming/joins.py, which runs the SAME function under "
        "watermarked readStream (equivalence asserted in tests).",
)
def q_click_attribution(spark, sf_dir):
    from nonconsumptive_spark.streaming.joins import click_purchase_attribution

    joined = click_purchase_attribution(load(spark, sf_dir, "events"), within="1 hour")
    return joined.select(
        "user_id", "click_id", "purchase_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.round("amount", 2).alias("amount"),
    )


# --------------------------------------------------------------------------
@register(
    "q_asof_join",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, max(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
    purchases AS (
      SELECT user_id, ts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase')
    SELECT p.user_id, p.purchase_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           c.click_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
    FROM purchases p ASOF JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    doc="As-of join (operator Spark lacks natively, operators/asof.py): "
        "each purchase matched to the user's most recent click at-or-before "
        "it — tagged-union + one window pass, single shuffle on the key; "
        "oracle is DuckDB's native ASOF JOIN.  Right side deduped per "
        "(user, ts) so the match is deterministic on both engines.",
)
def q_asof_join(spark, sf_dir):
    from nonconsumptive_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .withColumn("click_ts", F.col("ts"))
        .select("user_id", "ts", "click_id", "click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    joined = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["click_id", "click_ts"], how="inner",
    )
    return joined.select(
        "user_id", "purchase_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        "click_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )


# --------------------------------------------------------------------------
@register(
    "q_pivot_event_values",
    oracle="""
    SELECT user_id,
           round(coalesce(sum(value) FILTER (event_type = 'click'), 0), 2) AS click_v,
           round(coalesce(sum(value) FILTER (event_type = 'view'), 0), 2) AS view_v,
           round(coalesce(sum(value) FILTER (event_type = 'purchase'), 0), 2) AS purchase_v,
           round(coalesce(sum(value) FILTER (event_type = 'signup'), 0), 2) AS signup_v,
           round(coalesce(sum(value) FILTER (event_type = 'error'), 0), 2) AS error_v
    FROM events
    GROUP BY user_id
    """,
    doc="Pivot (extension; long→wide): per-user value totals, one column "
        "per event type — Spark .pivot() with an explicit value list (no "
        "distinct-discovery job); oracle uses filtered aggregates.",
)
def q_pivot_event_values(spark, sf_dir):
    types = ["click", "view", "purchase", "signup", "error"]
    wide = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .sum("value")
    )
    return wide.select(
        "user_id",
        *[F.round(F.coalesce(F.col(t), F.lit(0.0)), 2).alias(f"{t}_v") for t in types],
    )


# --------------------------------------------------------------------------
@register(
    "q_user_value_trend",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS t, value FROM events),
    pts AS (SELECT user_id, count(*) AS n FROM e GROUP BY user_id),
    slopes AS (
      SELECT a.user_id,
             (b.value - a.value) / (b.t - a.t) * 3600000000.0 AS s
      FROM e a JOIN e b ON a.user_id = b.user_id AND a.t < b.t)
    SELECT p.user_id, CAST(p.n AS BIGINT) AS n_points,
           round(median(s.s), 4) AS slope_per_hour
    FROM pts p JOIN slopes s USING (user_id)
    WHERE p.n >= 3
    GROUP BY p.user_id, p.n
    """,
    doc="Grouped-map applyInPandas surface (SURVEY §2.10 per-document "
        "generator): Theil–Sen robust trend per user — the median of all "
        "pairwise slopes, an order-statistic over O(n²) derived values "
        "that no built-in aggregate expresses.  DuckDB recomputes it via "
        "self-join + median; both engines do float64 per-pair arithmetic "
        "then a continuous median, so values hash-match.",
)
def q_user_value_trend(spark, sf_dir):
    from nonconsumptive_spark.operators.grouped import user_value_trend

    return user_value_trend(load(spark, sf_dir, "events"), min_points=3)


# --------------------------------------------------------------------------
@register(
    "q_funnel_stages",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS tv FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, min(e.ts) AS tc
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.tv
      WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, min(e.ts) AS tp
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.tc
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_view_click,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_view_click_purchase
    """,
    doc="Funnel analysis (event-sequence extension): users entering each "
        "stage of view → click → purchase, each stage strictly after the "
        "user's first entry into the previous one.  Three stage aggs "
        "chained by user-keyed joins; each stage frame is one row per "
        "surviving user, so the joins shrink monotonically.",
)
def q_funnel_stages(spark, sf_dir):
    ev = load(spark, sf_dir, "events")

    def stage(prev, etype, tcol):
        e = ev.filter(F.col("event_type") == etype)
        if prev is None:
            return e.groupBy("user_id").agg(F.min("ts").alias(tcol))
        prev_t = prev.columns[-1]
        return (
            e.join(prev, "user_id")
            .filter(F.col("ts") > F.col(prev_t))
            .groupBy("user_id")
            .agg(F.min("ts").alias(tcol))
        )

    v = stage(None, "view", "tv")
    c = stage(v, "click", "tc")
    p = stage(c, "purchase", "tp")
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_view_click")))
        .crossJoin(p.agg(F.count("*").alias("n_view_click_purchase")))
    )


# --------------------------------------------------------------------------
@register(
    "q_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
    SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
           CAST((epoch(a.wk) - epoch(f.cohort)) // 604800 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
    doc="Retention cohorts (event extension): users grouped by first-seen "
        "week, counted per activity-week offset.  Both engines truncate "
        "weeks to Monday and the offset is exact epoch arithmetic, so the "
        "matrix hash-matches.  Two aggs + one user-keyed join.",
)
def q_retention_cohorts(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    # datediff instead of unix_timestamp: works for both TIMESTAMP and
    # TIMESTAMP_NTZ ts columns (the test parquet carries no tz annotation,
    # so Spark reads it as NTZ, which unix_timestamp rejects).  Both sides
    # are week-truncated midnights, so the day difference is an exact
    # multiple of 7.
    offset = (
        F.datediff(F.col("wk").cast("date"), F.col("cohort").cast("date")) / 7
    ).cast("long")
    return (
        firsts.join(activity, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            offset.alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


# --------------------------------------------------------------------------
@register(
    "q_sessionize_lag",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    sessions AS (
      SELECT user_id, ts, event_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM gaps)
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           CAST(count(*) AS BIGINT) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
    FROM sessions
    GROUP BY user_id, session_no
    """,
    doc="Sessionization, lag+cumsum formulation (the batch-classic dual of "
        "session_window used by q_events_session): a gap >30min opens a new "
        "session; running sum of gap flags numbers the sessions.  Ordering "
        "key (ts, event_id) is total, so both engines agree exactly.  Gaps "
        "compare at MICROSECOND precision (timestamp-difference interval) "
        "to match the oracle's exact comparison — a second-truncated cast would "
        "flip session numbering for same-user gaps within ~1s of the "
        "threshold.",
)
def q_sessionize_lag(spark, sf_dir):
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # timestamp subtraction yields a day-time interval at microsecond
    # precision and works for both TIMESTAMP and TIMESTAMP_NTZ (the test
    # parquet carries no tz annotation, so Spark reads NTZ, which
    # unix_micros rejects) — same exact comparison the oracle makes
    gap = F.col("ts") - F.lag("ts").over(w)
    is_new = F.when(
        gap.isNull() | (gap > F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.select(
        "user_id", "ts", "event_id",
        F.sum(is_new).over(wr).cast("long").alias("session_no"),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
    )


# --------------------------------------------------------------------------
_US_EXPR = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
_RJ_LO = -1_800_000_000  # 30 minutes before, in microseconds
_RJ_HI = 0               # ...up to (exclusive) the purchase instant


@register(
    "q_range_join_events",
    oracle=f"""
    WITH p AS (
      SELECT event_id, user_id, epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01') AS lus
      FROM events WHERE event_type = 'purchase'),
    c AS (
      SELECT user_id, epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01') AS rus
      FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id,
           CAST(count(c.rus) AS BIGINT) AS n_prior_clicks
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id
     AND c.rus - p.lus >= {_RJ_LO} AND c.rus - p.lus < {_RJ_HI}
    GROUP BY p.event_id, p.user_id
    """,
    doc="Range (interval) join — operator Spark lacks natively "
        "(operators/asof.py:bucketed_range_join): clicks within the 30 "
        "minutes before each purchase, counted per purchase.  Spark side "
        "is a bucketed EQUI-join on (user, time-bucket) with 2x bounded "
        "left amplification — never a per-key cross product; oracle is the "
        "naive inequality join (fine at oracle SF).",
)
def q_range_join_events(spark, sf_dir):
    from nonconsumptive_spark.operators.asof import bucketed_range_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.expr(_US_EXPR).alias("lus"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.expr(_US_EXPR).alias("rus"))
    pairs = bucketed_range_join(
        purchases, clicks, on="user_id", left_us="lus", right_us="rus",
        lo_us=_RJ_LO, hi_us=_RJ_HI,
    )
    counts = pairs.groupBy("event_id").agg(
        F.count("*").cast("long").alias("n_prior_clicks"))
    return (
        purchases.join(counts, "event_id", "left")
        .select(
            "event_id", "user_id",
            F.coalesce("n_prior_clicks", F.lit(0)).cast("long")
             .alias("n_prior_clicks"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "q_zscore_outliers",
    oracle="""
    WITH q AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vq
      FROM events),
    s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vq) AS BIGINT) AS sv,
             CAST(sum(vq * vq) AS BIGINT) AS svv
      FROM q GROUP BY event_type)
    SELECT q.event_id, q.event_type, q.vq,
           round(CASE WHEN s.n * s.svv - s.sv * s.sv > 0
                 THEN CAST(s.n * q.vq - s.sv AS DOUBLE)
                      / sqrt(CAST(s.n * s.svv - s.sv * s.sv AS DOUBLE))
                 ELSE 0.0 END, 4) + 0.0 AS zscore,
           (s.n * q.vq - s.sv) * (s.n * q.vq - s.sv)
             > 3 * (s.n * s.svv - s.sv * s.sv) AS is_outlier
    FROM q JOIN s USING (event_type)
    """,
    doc="Per-group z-score outlier flagging (population std over per-type "
        "value distributions).  Hash-parity design: values quantized to "
        "integer cents, group moments are exact BIGINT sums, and both the "
        "z-score (one identical div+sqrt over exact ints) and the outlier "
        "flag (pure integer inequality, z^2 > 3) never accumulate floats "
        "in engine order.  Plan: tiny per-type moment agg BROADCAST back "
        "onto the events scan — one map-side-combined agg, no window, no "
        "second shuffle.  Integer headroom: (n*vq-S)^2 stays under 2^63 "
        "through ~sf0.3; larger SFs would move the flag compare to double.",
)
def q_zscore_outliers(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "event_id", "event_type",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
         .alias("vq"),
    )
    s = q.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("vq").cast("long").alias("sv"),
        F.sum(F.col("vq") * F.col("vq")).cast("long").alias("svv"),
    )
    num = F.col("n") * F.col("vq") - F.col("sv")
    den = F.col("n") * F.col("svv") - F.col("sv") * F.col("sv")
    return (
        q.join(F.broadcast(s), "event_type")
        .select(
            "event_id", "event_type", "vq",
            (F.round(
                F.when(den > 0,
                       num.cast("double") / F.sqrt(den.cast("double")))
                 .otherwise(F.lit(0.0)), 4) + F.lit(0.0)).alias("zscore"),
            (num * num > F.lit(3) * den).alias("is_outlier"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "q_winsorize",
    oracle="""
    WITH q AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vq
      FROM events),
    n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
          FROM q GROUP BY event_type),
    dist AS (SELECT event_type, vq, CAST(count(*) AS BIGINT) AS c
             FROM q GROUP BY event_type, vq),
    cum AS (
      SELECT event_type, vq,
             sum(c) OVER (PARTITION BY event_type ORDER BY vq) AS cum
      FROM dist),
    bounds AS (
      SELECT c.event_type,
             min(CASE WHEN c.cum >= ceil(0.05 * n.n) THEN c.vq END) AS lo,
             min(CASE WHEN c.cum >= ceil(0.95 * n.n) THEN c.vq END) AS hi
      FROM cum c JOIN n ON n.event_type = c.event_type
      GROUP BY c.event_type)
    SELECT q.event_id, q.event_type, q.vq,
           greatest(b.lo, least(b.hi, q.vq)) AS vq_clipped,
           (q.vq < b.lo OR q.vq > b.hi) AS is_clipped
    FROM q JOIN bounds b ON b.event_type = q.event_type
    """,
    doc="Per-group winsorization (clip at discrete P05/P95).  Exact "
        "percentiles WITHOUT sorting the data: boundaries come from a "
        "cumulative sum over the per-group distribution of DISTINCT "
        "quantized values (the DSIR score-histogram trick), so the only "
        "window runs over distinct-value rows, and the tiny (type, lo, hi) "
        "table broadcasts back onto the scan.  All compared columns are "
        "exact BIGINTs/booleans.",
)
def q_winsorize(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "event_id", "event_type",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
         .alias("vq"),
    )
    n = q.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    dist = q.groupBy("event_type", "vq").agg(
        F.count("*").cast("long").alias("c"))
    wcum = (Window.partitionBy("event_type").orderBy("vq")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = dist.select("event_type", "vq", F.sum("c").over(wcum).alias("cum"))
    bounds = (
        cum.join(F.broadcast(n), "event_type")
        .groupBy("event_type")
        .agg(
            F.min(F.when(F.col("cum") >= F.ceil(F.lit(0.05) * F.col("n")),
                         F.col("vq"))).alias("lo"),
            F.min(F.when(F.col("cum") >= F.ceil(F.lit(0.95) * F.col("n")),
                         F.col("vq"))).alias("hi"),
        )
    )
    return (
        q.join(F.broadcast(bounds), "event_type")
        .select(
            "event_id", "event_type", "vq",
            F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("vq")))
             .alias("vq_clipped"),
            ((F.col("vq") < F.col("lo")) | (F.col("vq") > F.col("hi")))
             .alias("is_clipped"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "q_value_histogram",
    oracle="""
    SELECT event_type,
           CAST(floor(value * 100.0 + 0.5) AS BIGINT) // 5000 AS bin,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
    """,
    doc="Fixed-width value histogram per event type (50.00-unit bins over "
        "integer-cent quantized values) — one map-side-combined agg; bin "
        "arithmetic is pure integer, so cross-engine exact.",
)
def q_value_histogram(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    vq = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    return (
        ev.select("event_type", (vq - (vq % 5000)) .alias("scaled"))
        .select("event_type", (F.col("scaled") / 5000).cast("long").alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count("*").cast("long").alias("n"))
    )


# --------------------------------------------------------------------------
@register(
    "q_cumulative_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    new_per_day AS (
      SELECT d0 AS day, CAST(count(*) AS BIGINT) AS new_users
      FROM first_seen GROUP BY d0)
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           CAST(coalesce(n.new_users, 0) AS BIGINT) AS new_users,
           CAST(sum(coalesce(n.new_users, 0)) OVER (ORDER BY d.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_users
    FROM days d LEFT JOIN new_per_day n ON n.day = d.day
    """,
    doc="Cumulative distinct users per day — the growth-curve metric.  "
        "Exact WITHOUT expanding-window count-distinct state: each user "
        "collapses to a first-seen day (one agg), daily new-user counts "
        "running-sum over the bounded day spine.  The only window runs "
        "over distinct days.",
)
def q_cumulative_users(spark, sf_dir):
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0"))
    days = ev.select(F.to_date("ts").alias("day")).distinct()
    new_per_day = first_seen.groupBy(F.col("d0").alias("day")).agg(
        F.count("*").cast("long").alias("new_users"))
    w = (Window.orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        days.join(new_per_day, "day", "left")
        .select("day", F.coalesce("new_users", F.lit(0)).cast("long")
                .alias("new_users"))
        .withColumn("cum_users", F.sum("new_users").over(w).cast("long"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                "new_users", "cum_users")
    )


# --------------------------------------------------------------------------
@register(
    "q_event_type_lift",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n_users AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM events),
    tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM ut GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS c_ab
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT p.type_a, p.type_b, p.c_ab,
           ca.c AS c_a, cb.c AS c_b,
           round(p.c_ab * 1.0 * n.n / (ca.c * cb.c), 4) + 0.0 AS lift
    FROM pairs p
    JOIN tc ca ON ca.event_type = p.type_a
    JOIN tc cb ON cb.event_type = p.type_b
    CROSS JOIN n_users n
    """,
    doc="Association lift between event types across users (market-basket "
        "form: a user is a basket of distinct event types; lift = "
        "P(a,b)/(P(a)P(b))).  All counts exact BIGINTs from a distinct-"
        "pairs self-join on the user key; one mirrored double expression.",
)
def q_event_type_lift(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    n_users = ev.agg(F.countDistinct("user_id").cast("long").alias("n"))
    tc = ut.groupBy("event_type").agg(F.count("*").cast("long").alias("c"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("c_ab"))
    )
    ca = tc.select(F.col("event_type").alias("type_a"), F.col("c").alias("c_a"))
    cb = tc.select(F.col("event_type").alias("type_b"), F.col("c").alias("c_b"))
    return (
        pairs.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a", "type_b", "c_ab", "c_a", "c_b",
            (F.round(F.col("c_ab").cast("double") * F.col("n")
                     / (F.col("c_a") * F.col("c_b")), 4)
             + F.lit(0.0)).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "q_event_transitions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events)
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(count(*) AS BIGINT) AS n
    FROM ordered WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="Per-user event-type transition counts (behavioral sequence "
        "mining — the event analog of the token Markov table).  Total "
        "order (ts, event_id) makes the lead deterministic; one "
        "user-partitioned window + one short-key agg.",
)
def q_event_transitions(spark, sf_dir):
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select("user_id", "event_type",
                  F.lead("event_type").over(w).alias("next_type"))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"),
                 F.col("next_type").alias("to_type"))
        .agg(F.count("*").cast("long").alias("n"))
    )


# --------------------------------------------------------------------------
@register(
    "q_mad_outliers",
    oracle="""
    WITH q AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vq
      FROM events),
    n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
          FROM q GROUP BY event_type),
    dist AS (SELECT event_type, vq, CAST(count(*) AS BIGINT) AS c
             FROM q GROUP BY event_type, vq),
    cum AS (SELECT event_type, vq,
                   sum(c) OVER (PARTITION BY event_type ORDER BY vq) AS cum
            FROM dist),
    med AS (SELECT c.event_type,
                   min(CASE WHEN c.cum >= ceil(0.5 * n.n) THEN c.vq END) AS med
            FROM cum c JOIN n USING (event_type) GROUP BY c.event_type),
    dv (event_id, event_type, vq, med, dev) AS (
      SELECT q.event_id, q.event_type, q.vq, m.med, abs(q.vq - m.med)
      FROM q JOIN med m USING (event_type)),
    ddist AS (SELECT event_type, dev, CAST(count(*) AS BIGINT) AS c
              FROM dv GROUP BY event_type, dev),
    dcum AS (SELECT event_type, dev,
                    sum(c) OVER (PARTITION BY event_type ORDER BY dev) AS cum
             FROM ddist),
    mad AS (SELECT c.event_type,
                   min(CASE WHEN c.cum >= ceil(0.5 * n.n) THEN c.dev END) AS mad
            FROM dcum c JOIN n USING (event_type) GROUP BY c.event_type)
    SELECT d.event_id, d.event_type, d.vq,
           CASE WHEN m.mad > 0
                THEN (CASE WHEN d.vq >= d.med THEN 1 ELSE -1 END
                      * ((2 * 6745 * d.dev + m.mad) // (2 * m.mad)))
                     / 10000.0
                ELSE 0.0 END AS mad_z,
           CASE WHEN m.mad > 0 THEN 6745 * d.dev > 35000 * m.mad
                ELSE d.dev > 0 END AS is_outlier
    FROM dv d JOIN mad m USING (event_type)
    """,
    doc="Robust per-group outlier flagging via median absolute deviation "
        "(modified z-score, Iglewicz-Hoaglin 3.5 cut) — unlike "
        "q_zscore_outliers the cut itself is outlier-resistant.  Scale "
        "design: medians come from the distribution-cumsum trick (lower "
        "median over integer-cent values), so the only windows run over "
        "distinct (type, value) rows, never events; the outlier flag is "
        "the pure integer inequality 6745*dev > 35000*mad, and the only "
        "float is the identical final mad_z expression over exact ints.",
)
def q_mad_outliers(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "event_id", "event_type",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
         .alias("vq"),
    )
    n = q.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))

    def lower_median(frame, val_col, out_name):
        dist = frame.groupBy("event_type", val_col).agg(
            F.count("*").cast("long").alias("c"))
        w = (Window.partitionBy("event_type").orderBy(val_col)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        cum = dist.select("event_type", val_col, F.sum("c").over(w).alias("cum"))
        return (
            cum.join(F.broadcast(n), "event_type")
            .groupBy("event_type")
            .agg(F.min(F.when(
                F.col("cum") >= F.ceil(F.lit(0.5) * F.col("n")),
                F.col(val_col))).alias(out_name))
        )

    med = lower_median(q, "vq", "med")
    dv = q.join(F.broadcast(med), "event_type").select(
        "event_id", "event_type", "vq", "med",
        F.abs(F.col("vq") - F.col("med")).alias("dev"))
    mad = lower_median(dv, "dev", "mad")
    return (
        dv.join(F.broadcast(mad), "event_type")
        .select(
            "event_id", "event_type", "vq",
            # 4-decimal modified z by PURE integer arithmetic: round-half-
            # away(6745*dev/mad) = (2*6745*dev + mad) div (2*mad) on the
            # non-negative magnitude (trunc == floor there, and both
            # engines' integer division agree) — float division near a
            # 5th-decimal tie is exactly what diverged at sf0.1
            F.expr(
                "CASE WHEN mad > 0 THEN"
                " (CASE WHEN vq >= med THEN 1 ELSE -1 END"
                "  * ((2 * 6745 * dev + mad) div (2 * mad)))"
                "  / CAST(10000 AS DOUBLE)"
                " ELSE CAST(0 AS DOUBLE) END"
            ).alias("mad_z"),
            F.when(F.col("mad") > 0,
                   F.lit(6745) * F.col("dev") > F.lit(35000) * F.col("mad"))
             .otherwise(F.col("dev") > 0).alias("is_outlier"),
        )
    )


# --------------------------------------------------------------------------
# Time-decayed engagement: exponential half-life weighting of each user's
# events, anchored at the corpus's last event.  The standard recency-aware
# activity score (newsfeed ranking, user-value models, churn features) —
# distinct from the window aggregates above, which weight all history
# equally.  Hash-parity design: the decay weight is ONE mirrored
# expression string over exact BIGINT microsecond ages, quantized to
# integer 1e-9 units per event BEFORE the per-user sum, so engine
# summation order cannot move the score (the logreg-sigmoid playbook).
_DECAY_HALF_LIFE_DAYS = 7.0
_DECAY_SCALE = 10**9
# columns in scope: us (BIGINT event micros), ref_us (BIGINT max micros)
_DECAY_WQ = (
    "CAST(floor(exp(-(CAST(ref_us - us AS DOUBLE) / 86400000000.0)"
    f" * ln(2.0) / {_DECAY_HALF_LIFE_DAYS}) * {float(_DECAY_SCALE)})"
    " AS BIGINT)"
)


@register(
    "q_decayed_engagement",
    oracle=f"""
    WITH e AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01') AS us
      FROM events),
    r AS (SELECT max(us) AS ref_us FROM e),
    s AS (SELECT user_id, {_DECAY_WQ} AS wq FROM e CROSS JOIN r)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(wq) AS BIGINT) AS decay_q,
           round(CAST(sum(wq) AS DOUBLE) / {float(_DECAY_SCALE)}, 4) + 0.0
             AS decayed_score
    FROM s GROUP BY user_id
    """,
    doc=f"Per-user exponentially time-decayed event count (half-life "
        f"{_DECAY_HALF_LIFE_DAYS} days, anchored at the last event).  The "
        "per-event weight exp(-age·ln2/hl) is one expression string shared "
        "verbatim by both engines and floored to integer 1e-9 units before "
        "the user sum — decay_q is an exact BIGINT.  Plan: one 1-row "
        "max-age attach broadcast onto the scan, one map-side-combinable "
        "per-user agg; no window, no corpus-sized shuffle beyond user_id.",
)
def q_decayed_engagement(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.expr(_US_EXPR).alias("us"))
    ref = ev.agg(F.max("us").alias("ref_us"))
    scored = ev.crossJoin(F.broadcast(ref)).selectExpr(
        "user_id", f"{_DECAY_WQ} AS wq")
    return scored.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("wq").cast("long").alias("decay_q"),
    ).select(
        "user_id", "n_events", "decay_q",
        (F.round(F.col("decay_q").cast("double") / _DECAY_SCALE, 4)
         + F.lit(0.0)).alias("decayed_score"),
    )


# --------------------------------------------------------------------------
# Behavioral-sequence similarity (the event-stream analog of document
# near-dup, in the spirit of the distributed trajectory/top-k similarity
# joins in PAPERS.md — REPOSE ICDE'21, EDBT'20): which users behave
# alike, as cosine over their event-type TRIGRAM COUNT vectors.  With a
# small type alphabet the trigram space is dense (5^3 = 125), so a
# rare-gram stop cut has nothing to cut — candidate generation instead
# BLOCKS on each user's modal trigram (count desc, gram asc tie-break):
# only users sharing a most-frequent behavior pattern are compared, the
# canopy-blocking idea with a deterministic key.
_BSIM_COS_NUM = 2   # similarity cut: cosine >= 2/5 = 0.4, applied as the
_BSIM_COS_DEN = 5   # EXACT integer inequality den^2*d^2 >= num^2*nn_a*nn_b


@register(
    "q_user_behavior_pairs",
    oracle=f"""
    WITH seqs AS (
      SELECT user_id, list(event_type ORDER BY ts, event_id) AS s
      FROM events GROUP BY user_id),
    grams AS (
      SELECT user_id,
             unnest(list_transform(
               range(1, len(s) - 1),
               i -> s[i] || '>' || s[i+1] || '>' || s[i+2])) AS g
      FROM seqs WHERE len(s) >= 3),
    cnt AS (
      SELECT user_id, g, CAST(count(*) AS BIGINT) AS c
      FROM grams GROUP BY user_id, g),
    rk AS (
      SELECT user_id, g, c, row_number() OVER (
        PARTITION BY user_id ORDER BY c DESC, g ASC) AS r
      FROM cnt),
    top AS (SELECT user_id, g AS topg FROM rk WHERE r = 1),
    norms AS (
      SELECT user_id, CAST(sum(c * c) AS BIGINT) AS nn
      FROM cnt GROUP BY user_id),
    cand AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b, a.topg
      FROM top a JOIN top b
        ON a.topg = b.topg AND a.user_id < b.user_id),
    dots AS (
      SELECT c1.user_id AS user_a, c2.user_id AS user_b,
             CAST(sum(c1.c * c2.c) AS BIGINT) AS dot
      FROM cnt c1 JOIN cnt c2
        ON c1.g = c2.g AND c1.user_id < c2.user_id
      GROUP BY 1, 2)
    SELECT cd.user_a, cd.user_b, cd.topg, d.dot,
           round(d.dot / (sqrt(na.nn) * sqrt(nb.nn)), 4) + 0.0 AS cosine
    FROM cand cd
    JOIN dots d ON d.user_a = cd.user_a AND d.user_b = cd.user_b
    JOIN norms na ON na.user_id = cd.user_a
    JOIN norms nb ON nb.user_id = cd.user_b
    WHERE {_BSIM_COS_DEN * _BSIM_COS_DEN} * d.dot * d.dot
          >= {_BSIM_COS_NUM * _BSIM_COS_NUM} * na.nn * nb.nn
    """,
    doc=f"User behavior similarity: cosine >= "
        f"{_BSIM_COS_NUM}/{_BSIM_COS_DEN} over event-type trigram count "
        "vectors, candidates blocked on each user's modal trigram "
        "(canopy blocking with a deterministic key — right for dense "
        "small-alphabet gram spaces where rare-gram cuts have nothing to "
        "cut).  Dots/norms are exact BIGINTs and the threshold is a pure "
        "integer inequality; the reported cosine is the one mirrored "
        "float.  Scale: per-user vectors bounded by |alphabet|^3; the "
        "dot join fans out per gram by block population, and the modal-"
        "key equi-join never forms an all-pairs product.",
)
def q_user_behavior_pairs(spark, sf_dir):
    from pyspark.sql import Window, functions as F

    from nonconsumptive_spark.plans.checkpoint import materialize_once

    ev = load(spark, sf_dir, "events")
    seqs = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s["event_type"],
        ).alias("s")
    )
    grams = (
        seqs.filter(F.size("s") >= 3)
        .select(
            "user_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("s") - 2),
                    lambda i: F.concat_ws(
                        ">", F.element_at("s", i),
                        F.element_at("s", i + 1), F.element_at("s", i + 2)),
                )
            ).alias("g"),
        )
    )
    cnt = materialize_once(
        grams.groupBy("user_id", "g").agg(F.count("*").cast("long").alias("c")),
        "bsim_cnt",
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("c"), F.asc("g"))
    top = (
        cnt.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("user_id", F.col("g").alias("topg"))
    )
    norms = cnt.groupBy("user_id").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("nn"))
    ta = top.select(F.col("user_id").alias("user_a"), "topg")
    tb = top.select(F.col("user_id").alias("user_b"), "topg")
    cand = ta.join(tb, "topg").filter(F.col("user_a") < F.col("user_b"))
    cand = materialize_once(cand, "bsim_cand")
    c1 = cnt.select(F.col("user_id").alias("user_a"), "g", F.col("c").alias("ca"))
    c2 = cnt.select(F.col("user_id").alias("user_b"), "g", F.col("c").alias("cb"))
    # dot products ONLY for blocked candidate pairs: joining cnt to itself
    # on the gram first computes the DENSE all-pairs product (every user
    # pair shares most grams in a small alphabet — |cnt|^2/|grams| rows)
    # and then throws most of it away at the cand join.  A/B warm at
    # sf0.1: 6.8s dense -> 1.5s candidate-first.
    dots = (
        cand.join(c1, "user_a")
        .join(c2, ["user_b", "g"])
        .groupBy("user_a", "user_b", "topg")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("dot"))
    )
    na = norms.select(F.col("user_id").alias("user_a"), F.col("nn").alias("nna"))
    nb = norms.select(F.col("user_id").alias("user_b"), F.col("nn").alias("nnb"))
    den2 = _BSIM_COS_DEN * _BSIM_COS_DEN
    num2 = _BSIM_COS_NUM * _BSIM_COS_NUM
    return (
        dots
        .join(na, "user_a").join(nb, "user_b")
        .filter(
            F.lit(den2) * F.col("dot") * F.col("dot")
            >= F.lit(num2) * F.col("nna") * F.col("nnb")
        )
        .select(
            "user_a", "user_b", "topg", "dot",
            (F.round(F.col("dot")
                     / (F.sqrt(F.col("nna")) * F.sqrt(F.col("nnb"))), 4)
             + F.lit(0.0)).alias("cosine"),
        )
    )


# --------------------------------------------------------------------------
# Sample autocorrelation of the daily event-count series — the seasonality
# probe of the time-series family (PAPERS.md EDBT'19).  With integer daily
# counts and the rational global mean m = S/n multiplied through by n, the
# lag products (n·c_t − S)(n·c_{t+k} − S) and the variance term are pure
# BIGINTs; r_k is one guarded mirrored division.
_ACF_MAX_LAG = 7
_ACF_R = (
    "CASE WHEN den > 0"
    " THEN round(CAST(num AS DOUBLE) / den, 6) + 0.0"
    " ELSE CAST(0.0 AS DOUBLE) END"
)


@register(
    "q_daily_autocorr",
    oracle=f"""
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
    lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG} + 1)) AS lag),
    nums AS (
      SELECT l.lag,
             CAST(COALESCE(sum(a.e * b.e), 0) AS BIGINT) AS num,
             CAST(count(b.e) AS BIGINT) AS n_pairs
      FROM lags l
      LEFT JOIN dev a ON TRUE
      LEFT JOIN dev b ON b.d = a.d + CAST(l.lag AS BIGINT) * INTERVAL 1 DAY
      GROUP BY l.lag)
    SELECT CAST(lag AS BIGINT) AS lag, n_pairs, num,
           {_ACF_R} AS acf
    FROM nums CROSS JOIN den
    """,
    doc=f"Lag-1..{_ACF_MAX_LAG} sample autocorrelation of daily event "
        "counts (ACF with the global-mean normalization).  Deviations are "
        "scaled by n so every numerator/denominator term is an exact "
        "BIGINT; r_k is one guarded mirrored division.  Plan: the series "
        "frame is #days rows — every join after the daily agg is "
        "spine-sized, corpus-size independent.",
)
def q_daily_autocorr(spark, sf_dir):
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    daily = materialize_once(daily, "acf_daily")
    tot = daily.agg(F.count("*").cast("long").alias("n"),
                    F.sum("c").cast("long").alias("s"))
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "d", (F.col("n") * F.col("c") - F.col("s")).cast("long").alias("e"))
    dev = materialize_once(dev, "acf_dev")
    den = dev.agg(F.sum(F.col("e") * F.col("e")).cast("long").alias("den"))
    lags = daily.sparkSession.range(1, _ACF_MAX_LAG + 1).select(
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
    return (
        nums.crossJoin(F.broadcast(den))
        .selectExpr("lag", "n_pairs", "num", f"{_ACF_R} AS acf")
    )


# Seasonal-naive anomaly detection on the daily series: residual vs the
# same weekday one week earlier (calendar join, robust to missing days),
# then a population z-score of the residuals from exact integer moments —
# numerator n*resid - s and denominator n*ss - s*s are BIGINTs, so the
# only float ops are one sqrt and one division, mirrored bit-for-bit.
_SEAS_LAG_DAYS = 7
_SEAS_Z = (
    "CASE WHEN den > 0"
    " THEN round(CAST(n * resid - s AS DOUBLE)"
    "      / sqrt(CAST(den AS DOUBLE)), 4) + 0.0"
    " ELSE CAST(0.0 AS DOUBLE) END"
)


@register(
    "q_seasonal_residuals",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    resid AS (
      SELECT a.event_type, a.d, a.cnt,
             CAST(a.cnt - b.cnt AS BIGINT) AS resid
      FROM daily a
      JOIN daily b ON b.event_type = a.event_type
                  AND b.d = a.d - INTERVAL {_SEAS_LAG_DAYS} DAY),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(resid) AS BIGINT) AS s,
             CAST(sum(resid * resid) AS BIGINT) AS ss
      FROM resid),
    z AS (
      SELECT event_type, d, cnt, resid,
             n * ss - s * s AS den, n, s
      FROM resid CROSS JOIN mom)
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day, cnt, resid,
           {_SEAS_Z} AS zscore
    FROM z
    """,
    doc=f"Seasonal-naive residuals: per (event_type, day) count minus the "
        f"count {_SEAS_LAG_DAYS} days earlier (calendar equi-join — "
        "missing days drop out instead of silently comparing wrong "
        "weekdays), z-scored against the full residual population via "
        "exact BIGINT moments.  Plan: one (type, day) agg shuffle; "
        "everything after is spine-sized (days x types) with a broadcast "
        "1-row moment attach.",
)
def q_seasonal_residuals(spark, sf_dir):
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    daily = materialize_once(daily, "seasonal_daily")
    prev = daily.select(
        F.col("event_type").alias("pt"),
        F.expr(f"date_add(d, {_SEAS_LAG_DAYS})").alias("pd"),
        F.col("cnt").alias("prev_cnt"),
    )
    resid = (
        daily.join(prev, (F.col("event_type") == F.col("pt"))
                   & (F.col("d") == F.col("pd")))
        .select("event_type", "d", "cnt",
                (F.col("cnt") - F.col("prev_cnt")).cast("long").alias("resid"))
    )
    resid = materialize_once(resid, "seasonal_resid")
    mom = resid.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("resid").cast("long").alias("s"),
        F.sum(F.col("resid") * F.col("resid")).cast("long").alias("ss"),
    )
    return (
        resid.crossJoin(F.broadcast(mom))
        .withColumn("den", F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
        .selectExpr("event_type", "date_format(d, 'yyyy-MM-dd') AS day",
                    "cnt", "resid", f"{_SEAS_Z} AS zscore")
    )


# -- CUSUM changepoint detection over the daily event-count series ---------
# The sequential recurrence s_i = max(0, s_{i-1} + y_i) is exactly
# s_i = cum_i - min(0, running_min(cum_i))  (and its mirror for the
# negative side), so the whole detector is two window passes over the
# #days-sized daily spine — no recursion, no UDF, fully BIGINT (daily
# deviations are scaled by n so the target mean never becomes a float).
_CUSUM_H = 4  # flag when |cusum| exceeds H * s  (s = n * mean daily count)


@register(
    "q_cusum_daily",
    f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(c) AS BIGINT) AS s FROM daily),
    dev AS (SELECT d, c, t.n * c - t.s AS y, t.s AS s
            FROM daily CROSS JOIN tot t),
    c1 AS (SELECT d, c, s,
                  CAST(sum(y) OVER (ORDER BY d) AS BIGINT) AS cum
           FROM dev),
    c2 AS (SELECT d, c, s, cum,
                  CAST(least(0, min(cum) OVER (ORDER BY d)) AS BIGINT)
                    AS rmin,
                  CAST(greatest(0, max(cum) OVER (ORDER BY d)) AS BIGINT)
                    AS rmax
           FROM c1)
    SELECT d, c, cum,
           cum - rmin AS cusum_pos,
           rmax - cum AS cusum_neg,
           (cum - rmin > {_CUSUM_H} * s
            OR rmax - cum > {_CUSUM_H} * s) AS flagged
    FROM c2
    """,
    doc="Page's CUSUM over the daily event series: one "
        "day-keyed agg then a linear fold on the (tiny) day spine, "
        "integer-quantized increments.",
)
def q_cusum_daily(spark, sf_dir):
    from pyspark.sql import Window

    from nonconsumptive_spark.plans.checkpoint import materialize_once

    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    daily = materialize_once(daily, "cusum_daily")
    tot = daily.agg(F.count("*").cast("long").alias("n"),
                    F.sum("c").cast("long").alias("s"))
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "d", "c", "s", (F.col("n") * F.col("c") - F.col("s")).alias("y"))
    # the spine is #days rows — a bounded single-partition window, the
    # same documented shape as every other daily-series query here
    w = (Window.orderBy("d")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c1 = dev.select("d", "c", "s",
                    F.sum("y").over(w).cast("long").alias("cum"))
    c2 = c1.select(
        "d", "c", "s", "cum",
        F.least(F.lit(0), F.min("cum").over(w)).cast("long").alias("rmin"),
        F.greatest(F.lit(0), F.max("cum").over(w)).cast("long").alias("rmax"),
    )
    return c2.select(
        "d", "c", "cum",
        (F.col("cum") - F.col("rmin")).alias("cusum_pos"),
        (F.col("rmax") - F.col("cum")).alias("cusum_neg"),
        ((F.col("cum") - F.col("rmin") > _CUSUM_H * F.col("s"))
         | (F.col("rmax") - F.col("cum") > _CUSUM_H * F.col("s")))
        .alias("flagged"),
    )


# -- per-type CUSUM: a fleet of control charts, windows PARTITIONED --------
# (the scale-preferred form: the global q_cusum_daily spine is one
# bounded window; here every event type gets its own chart and the
# windows parallelize across types)
@register(
    "q_cusum_by_type",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(c) AS BIGINT) AS s
            FROM daily GROUP BY event_type),
    dev AS (SELECT d.event_type, d.d, d.c, t.n * d.c - t.s AS y, t.s AS s
            FROM daily d JOIN tot t USING (event_type)),
    c1 AS (SELECT event_type, d, c, s,
                  CAST(sum(y) OVER w AS BIGINT) AS cum
           FROM dev WINDOW w AS (PARTITION BY event_type ORDER BY d)),
    c2 AS (SELECT event_type, d, c, s, cum,
                  CAST(least(0, min(cum) OVER w) AS BIGINT) AS rmin,
                  CAST(greatest(0, max(cum) OVER w) AS BIGINT) AS rmax
           FROM c1 WINDOW w AS (PARTITION BY event_type ORDER BY d))
    SELECT event_type, d, c, cum,
           cum - rmin AS cusum_pos,
           rmax - cum AS cusum_neg,
           (cum - rmin > {_CUSUM_H} * s OR rmax - cum > {_CUSUM_H} * s)
             AS flagged
    FROM c2
    """,
    doc="Per-event-type CUSUM changepoints: type-keyed "
        "day aggs, fold on each type's day spine.",
)
def q_cusum_by_type(spark, sf_dir):
    from pyspark.sql import Window

    from nonconsumptive_spark.plans.checkpoint import materialize_once

    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    daily = materialize_once(daily, "cusum_ty_daily")
    tot = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"))
    dev = daily.join(F.broadcast(tot), "event_type").select(
        "event_type", "d", "c", "s",
        (F.col("n") * F.col("c") - F.col("s")).alias("y"))
    w = (Window.partitionBy("event_type").orderBy("d")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c1 = dev.select("event_type", "d", "c", "s",
                    F.sum("y").over(w).cast("long").alias("cum"))
    c2 = c1.select(
        "event_type", "d", "c", "s", "cum",
        F.least(F.lit(0), F.min("cum").over(w)).cast("long").alias("rmin"),
        F.greatest(F.lit(0), F.max("cum").over(w)).cast("long").alias("rmax"),
    )
    return c2.select(
        "event_type", "d", "c", "cum",
        (F.col("cum") - F.col("rmin")).alias("cusum_pos"),
        (F.col("rmax") - F.col("cum")).alias("cusum_neg"),
        ((F.col("cum") - F.col("rmin") > _CUSUM_H * F.col("s"))
         | (F.col("rmax") - F.col("cum") > _CUSUM_H * F.col("s")))
        .alias("flagged"),
    )


# -- per-user event-type trigram sequences ----------------------------------
@register(
    "q_event_sequences",
    """
    WITH ordered AS (
      SELECT user_id, event_type AS t1,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
    FROM ordered WHERE t3 IS NOT NULL
    GROUP BY 1, 2, 3
    """,
)
def q_event_sequences(spark, sf_dir):
    """Length-3 behavioral sequence support counts (the trigram extension
    of q_event_transitions — sequential pattern mining's k=3 pass).  One
    user-partitioned window over the (ts, event_id) total order + one
    short-key agg."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.col("event_type").alias("t1"),
            F.lead("event_type", 1).over(w).alias("t2"),
            F.lead("event_type", 2).over(w).alias("t3"),
        )
        .filter(F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count("*").cast("long").alias("n"))
    )


# -- per-user EWMA anomaly flags --------------------------------------------
def _ewma_oracle() -> str:
    from nonconsumptive_spark.operators.grouped import EWMA_ALPHA, EWMA_SPIKE

    a, om = EWMA_ALPHA, 1.0 - EWMA_ALPHA
    return f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    e(user_id, event_id, value, rn, ewma, prev) AS (
      SELECT user_id, event_id, value, rn, value, CAST(NULL AS DOUBLE)
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.event_id, s.value, s.rn,
             CAST({a!r} AS DOUBLE) * s.value
               + CAST({om!r} AS DOUBLE) * e.ewma,
             e.ewma
      FROM e JOIN seq s ON s.user_id = e.user_id AND s.rn = e.rn + 1)
    SELECT event_id, user_id, value,
           floor(ewma * 1000000 + 0.5) / 1000000.0 AS ewma,
           CASE WHEN prev IS NULL THEN FALSE
                ELSE abs(value - prev) > {EWMA_SPIKE!r} END AS is_spike
    FROM e
    """


@register("q_ewma_anomalies", _ewma_oracle(),
          doc="Per-user EWMA + spike flags, the grouped-map "
              "recurrence (operators/grouped.ewma_anomalies); bit-exact vs the "
              "oracle's recursive CTE.")
def q_ewma_anomalies(spark, sf_dir):
    from nonconsumptive_spark.operators.grouped import ewma_anomalies

    return ewma_anomalies(load(spark, sf_dir, "events"))


# -- l-diversity privacy diagnostic -----------------------------------------
_LDIV_L = 3


@register(
    "q_l_diversity",
    f"""
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS class_size,
           CAST(count(DISTINCT user_id) AS BIGINT) AS l_div,
           count(DISTINCT user_id) < {_LDIV_L} AS is_risky
    FROM events GROUP BY 1, 2
    """,
)
def q_l_diversity(spark, sf_dir):
    """l-diversity companion to q_k_anonymity: per quasi-identifier class
    (event_type, day), the count of DISTINCT sensitive values (user_id) —
    a class can be k-anonymous yet single-valued in the sensitive
    attribute, which still leaks it (Machanavajjhala et al. 2007).  One
    groupBy on the quasi columns with a distinct-count; nothing scales
    past the class count."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type",
                   F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").cast("long").alias("class_size"),
             F.countDistinct("user_id").cast("long").alias("l_div"))
        .withColumn("is_risky", F.col("l_div") < _LDIV_L)
    )


# -- t-closeness over (event_type, day) quasi-identifier classes --------------
# Completes the privacy trio (q_k_anonymity, q_l_diversity): a class can
# be k-anonymous AND l-diverse while its sensitive-value DISTRIBUTION
# still differs enough from the global one to leak.  For an ordered
# attribute the EMD is the mean absolute cumulative-probability gap; with
# per-bucket counts the cumulative gap numerator cum_cb*N - cum_b*n_class
# is an exact BIGINT, so only the final normalization is float.
_TC_BUCKETS = 10
_TC_WIDTH = 50
_TC_T = 0.2


@register(
    "q_t_closeness",
    f"""
    WITH ev AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             least(CAST(floor(value / {_TC_WIDTH}) AS BIGINT),
                   {_TC_BUCKETS - 1}) AS b
      FROM events),
    cls AS (
      SELECT event_type, day, b, CAST(count(*) AS BIGINT) AS c
      FROM ev GROUP BY 1, 2, 3),
    classes AS (
      SELECT event_type, day, CAST(sum(c) AS BIGINT) AS n_class
      FROM cls GROUP BY 1, 2),
    gtot AS (
      SELECT b, CAST(count(*) AS BIGINT) AS gc FROM ev GROUP BY b),
    tot AS (SELECT CAST(sum(gc) AS BIGINT) AS n FROM gtot),
    spine AS (
      SELECT k.event_type, k.day, k.n_class, s.b,
             coalesce(c.c, 0) AS c, coalesce(g.gc, 0) AS gc
      FROM classes k
      CROSS JOIN (SELECT unnest(range({_TC_BUCKETS})) AS b) s
      LEFT JOIN cls c ON c.event_type = k.event_type
                     AND c.day = k.day AND c.b = s.b
      LEFT JOIN gtot g ON g.b = s.b),
    cum AS (
      SELECT event_type, day, n_class, b,
             CAST(sum(c) OVER (PARTITION BY event_type, day ORDER BY b)
                  AS BIGINT) AS cum_c,
             CAST(sum(gc) OVER (PARTITION BY event_type, day ORDER BY b)
                  AS BIGINT) AS cum_g
      FROM spine),
    emd AS (
      SELECT event_type, day, n_class,
             CAST(sum(abs(cum_c * t.n - cum_g * n_class)) AS BIGINT)
               AS emd_num,
             any_value(t.n) AS n
      FROM cum CROSS JOIN tot t
      GROUP BY event_type, day, n_class)
    SELECT event_type, day, n_class,
           round(CAST(emd_num AS DOUBLE)
                 / (CAST({_TC_BUCKETS - 1} AS DOUBLE) * n_class * n), 6)
             + 0.0 AS emd,
           CAST(emd_num AS DOUBLE)
             / (CAST({_TC_BUCKETS - 1} AS DOUBLE) * n_class * n)
             > {_TC_T} AS is_risky
    FROM emd
    """,
)
def q_t_closeness(spark, sf_dir):
    """t-closeness of each (event_type, day) quasi-identifier class:
    ordered-attribute earth-mover's distance between the class's bucketed
    `value` distribution and the global one (Li et al. 2007).  See the
    header note for the BIGINT cumulative-gap form.  Plan: one class+
    bucket agg, a broadcast 10-row bucket spine fill, per-class 10-row
    windows, 1-row global-count attach — nothing pairwise, nothing
    proportional to event rows after the first agg."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.least(F.floor(F.col("value") / _TC_WIDTH).cast("long"),
                F.lit(_TC_BUCKETS - 1)).alias("b"),
    )
    cls = ev.groupBy("event_type", "day", "b").agg(
        F.count("*").cast("long").alias("c"))
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    cls = materialize_once(cls, "tclose_cls")
    classes = cls.groupBy("event_type", "day").agg(
        F.sum("c").cast("long").alias("n_class"))
    glob = cls.groupBy("b").agg(F.sum("c").cast("long").alias("gc"))
    tot = glob.agg(F.sum("gc").cast("long").alias("n"))
    buckets = spark.range(_TC_BUCKETS).select(F.col("id").alias("b"))
    spine = (
        classes.crossJoin(F.broadcast(buckets))
        .join(cls, ["event_type", "day", "b"], "left")
        .join(F.broadcast(glob), "b", "left")
        .select("event_type", "day", "n_class", "b",
                F.coalesce("c", F.lit(0)).alias("c"),
                F.coalesce("gc", F.lit(0)).alias("gc"))
    )
    w = Window.partitionBy("event_type", "day").orderBy("b")
    cum = spine.select(
        "event_type", "day", "n_class", "b",
        F.sum("c").over(w).cast("long").alias("cum_c"),
        F.sum("gc").over(w).cast("long").alias("cum_g"),
    )
    emd = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("event_type", "day", "n_class")
        .agg(
            F.sum(F.abs(F.col("cum_c") * F.col("n")
                        - F.col("cum_g") * F.col("n_class")))
            .cast("long").alias("emd_num"),
            F.first("n").alias("n"),
        )
    )
    emd_val = (F.col("emd_num").cast("double")
               / (F.lit(float(_TC_BUCKETS - 1)) * F.col("n_class")
                  * F.col("n")))
    return emd.select(
        "event_type", "day", "n_class",
        (F.round(emd_val, 6) + F.lit(0.0)).alias("emd"),
        (emd_val > _TC_T).alias("is_risky"),
    )


# -- binary-segmentation changepoint on the daily series ----------------------
# One exact binary-segmentation round: the split s maximizing the
# between-segment gain sl^2/nl + sr^2/nr (equivalently the SSE drop —
# the Sigma-y^2 term cancels), scored on a floor(x*1000) BIGINT so the
# argmax is total-order deterministic with an earliest-day tie-break.
_BINSEG_SCALE = 1000


@register(
    "q_binseg_daily",
    f"""
    WITH daily AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    cum AS (
      SELECT event_type, d, y,
             CAST(row_number() OVER w AS BIGINT) AS i,
             CAST(sum(y) OVER w AS BIGINT) AS sl,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT) AS s
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    scored AS (
      SELECT event_type, d, i, n, sl, s,
             CAST(floor((CAST(sl AS DOUBLE) * sl / i
                         + CAST(s - sl AS DOUBLE) * (s - sl) / (n - i))
                        * {_BINSEG_SCALE}) AS BIGINT) AS score_q
      FROM cum WHERE i < n),
    best AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY event_type
                 ORDER BY score_q DESC, d ASC) AS rn
        FROM scored) WHERE rn = 1)
    SELECT event_type, n AS n_days, d AS split_day, score_q,
           round(CAST(sl AS DOUBLE) * sl / i
                 + CAST(s - sl AS DOUBLE) * (s - sl) / (n - i)
                 - CAST(s AS DOUBLE) * s / n, 4) + 0.0 AS gain,
           round(CAST(sl AS DOUBLE) / i, 4) + 0.0 AS mean_left,
           round(CAST(s - sl AS DOUBLE) / (n - i), 4) + 0.0 AS mean_right
    FROM best
    """,
)
def q_binseg_daily(spark, sf_dir):
    """Exact single-changepoint detection (one binary-segmentation
    round, Scott & Knott 1974) on each event type's daily count series:
    the day boundary that maximizes the between-segment SSE reduction —
    the offline complement to the online CUSUM queries.  Cumulative
    sums make every candidate split O(1), the gain quantizes to a
    BIGINT for a deterministic argmax (earliest-day tie-break), and the
    reported gain/means are mirrored float chains on the single winning
    row.  Plan: one daily agg, two bounded per-type windows over #days
    rows, one top-1 window."""
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type",
                 F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(F.count("*").cast("long").alias("y"))
    )
    w = (Window.partitionBy("event_type").orderBy("d")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wp = Window.partitionBy("event_type")
    cum = daily.select(
        "event_type", "d", "y",
        F.row_number().over(Window.partitionBy("event_type").orderBy("d"))
        .cast("long").alias("i"),
        F.sum("y").over(w).cast("long").alias("sl"),
        F.count("*").over(wp).cast("long").alias("n"),
        F.sum("y").over(wp).cast("long").alias("s"),
    )
    sr = (F.col("s") - F.col("sl")).cast("double")
    score = (F.col("sl").cast("double") * F.col("sl") / F.col("i")
             + sr * (F.col("s") - F.col("sl")) / (F.col("n") - F.col("i")))
    scored = cum.filter(F.col("i") < F.col("n")).withColumn(
        "score_q", F.floor(score * _BINSEG_SCALE).cast("long"))
    best = (
        scored.withColumn(
            "rn", F.row_number().over(
                Window.partitionBy("event_type")
                .orderBy(F.desc("score_q"), F.asc("d"))))
        .filter(F.col("rn") == 1)
    )
    return best.select(
        "event_type", F.col("n").alias("n_days"),
        F.col("d").alias("split_day"), "score_q",
        (F.round(score - F.col("s").cast("double") * F.col("s")
                 / F.col("n"), 4) + F.lit(0.0)).alias("gain"),
        (F.round(F.col("sl").cast("double") / F.col("i"), 4)
         + F.lit(0.0)).alias("mean_left"),
        (F.round(sr / (F.col("n") - F.col("i")), 4) + F.lit(0.0))
        .alias("mean_right"),
    )


# -- SAX symbolization of the daily series -------------------------------------
# Gaussian 4-letter breakpoints at z = ±0.6745 and 0, applied to the
# per-type z-score QUANTIZED to integer 1e-6 units — the letter decision
# compares BIGINTs against integer thresholds, so the symbol stream
# replays identically cross-engine even at breakpoint boundaries.
_SAX_SCALE = 10**6
_SAX_BP = 674500  # 0.6745 in 1e-6 units


@register(
    "q_sax_daily",
    f"""
    WITH daily AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    mom AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s,
             CAST(sum(y * y) AS BIGINT) AS ssq
      FROM daily GROUP BY event_type),
    z AS (
      SELECT d.event_type, d.d, d.y, m.n,
             CASE WHEN m.n * m.ssq - m.s * m.s > 0
                  THEN CAST(floor((d.y - CAST(m.s AS DOUBLE) / m.n)
                         / sqrt((CAST(m.ssq AS DOUBLE)
                                 - CAST(m.s AS DOUBLE) * m.s / m.n) / m.n)
                         * {_SAX_SCALE}) AS BIGINT)
                  ELSE 0 END AS zq
      FROM daily d JOIN mom m USING (event_type))
    SELECT event_type, d AS day, y, zq,
           CASE WHEN zq < -{_SAX_BP} THEN 'a'
                WHEN zq < 0 THEN 'b'
                WHEN zq < {_SAX_BP} THEN 'c'
                ELSE 'd' END AS symbol
    FROM z
    """,
)
def q_sax_daily(spark, sf_dir):
    """SAX symbolization (Lin et al. 2003) of each event type's daily
    count series: z-normalize against the type's own mean/std (exact
    BIGINT moments, population variance) and map to a 4-letter alphabet
    at the Gaussian quartile breakpoints — the discretization under
    symbolic motif/anomaly mining.  See the header note for why the
    letter decision is boundary-safe.  Plan: one daily agg, one
    per-type moment agg, one broadcast join back — no windows at all."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type",
                 F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(F.count("*").cast("long").alias("y"))
    )
    mom = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("ssq"),
    )
    var_num = F.col("n") * F.col("ssq") - F.col("s") * F.col("s")
    zq = F.floor(
        (F.col("y") - F.col("s").cast("double") / F.col("n"))
        / F.sqrt((F.col("ssq").cast("double")
                  - F.col("s").cast("double") * F.col("s") / F.col("n"))
                 / F.col("n"))
        * _SAX_SCALE).cast("long")
    z = (
        daily.join(F.broadcast(mom), "event_type")
        .select("event_type", "d", "y",
                F.when(var_num > 0, zq).otherwise(F.lit(0)).alias("zq"))
    )
    return z.select(
        "event_type", F.col("d").alias("day"), "y", "zq",
        F.when(F.col("zq") < -_SAX_BP, "a")
        .when(F.col("zq") < 0, "b")
        .when(F.col("zq") < _SAX_BP, "c")
        .otherwise("d").alias("symbol"),
    )


# -- day-of-week seasonality strength ------------------------------------------
_SEAS_SCALE = 10**6


@register(
    "q_seasonality_strength",
    f"""
    WITH daily AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    dowd AS (
      SELECT event_type, dayofweek(CAST(d AS DATE)) AS dow, y
      FROM daily),
    bydow AS (
      SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_d,
             CAST(sum(y) AS BIGINT) AS s_d
      FROM dowd GROUP BY event_type, dow),
    mom AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s,
             CAST(sum(y * y) AS BIGINT) AS ssq
      FROM dowd GROUP BY event_type),
    agg AS (
      SELECT b.event_type,
             CAST(sum(s_d * s_d * {_SEAS_SCALE} // n_d) AS BIGINT) AS ssb_r,
             any_value(m.n) AS n, any_value(m.s) AS s,
             any_value(m.ssq) AS ssq,
             CAST(count(*) AS BIGINT) AS n_dows
      FROM bydow b JOIN mom m USING (event_type)
      GROUP BY b.event_type)
    SELECT event_type, n AS n_days, n_dows,
           CAST(ssb_r - s * s * {_SEAS_SCALE} // n AS BIGINT) AS ssb_q,
           CAST(ssq * {_SEAS_SCALE} - s * s * {_SEAS_SCALE} // n AS BIGINT)
             AS sst_q,
           CASE WHEN ssq * {_SEAS_SCALE} - s * s * {_SEAS_SCALE} // n > 0
                THEN round(CAST(ssb_r - s * s * {_SEAS_SCALE} // n
                                AS DOUBLE)
                           / (ssq * {_SEAS_SCALE}
                              - s * s * {_SEAS_SCALE} // n), 6) + 0.0
                ELSE 0.0 END AS eta_sq
    FROM agg
    """,
)
def q_seasonality_strength(spark, sf_dir):
    """Day-of-week seasonality strength per event type: eta-squared of
    the daily counts grouped by weekday (between-dow sum of squares
    over total) — 0 for a flat week, 1 when weekday alone determines
    volume; the is-there-a-weekly-cycle screen before seasonal
    adjustment (complements q_seasonal_residuals, which REMOVES the
    cycle).  Every sum of squares is exact integer arithmetic scaled
    by 1e6 with floor division, so eta^2 is one mirrored division of
    BIGINTs.  Plan: daily agg -> 7-row-per-type dow agg + moment agg
    -> one join; nothing past the dow histogram."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type",
                 F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(F.count("*").cast("long").alias("y"))
    )
    dowd = daily.select(
        "event_type",
        (F.dayofweek(F.to_date("d")) - 1).cast("long").alias("dow"),
        "y",
    )
    bydow = dowd.groupBy("event_type", "dow").agg(
        F.count("*").cast("long").alias("n_d"),
        F.sum("y").cast("long").alias("s_d"),
    )
    mom = dowd.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("ssq"),
    )
    agg = (
        bydow.join(mom, "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.expr(f"s_d * s_d * {_SEAS_SCALE} div n_d"))
            .cast("long").alias("ssb_r"),
            F.first("n").alias("n"), F.first("s").alias("s"),
            F.first("ssq").alias("ssq"),
            F.count("*").cast("long").alias("n_dows"),
        )
    )
    corr = F.expr(f"s * s * {_SEAS_SCALE} div n")
    ssb = (F.col("ssb_r") - corr).cast("long")
    sst = (F.col("ssq") * _SEAS_SCALE - corr).cast("long")
    return agg.select(
        "event_type", F.col("n").alias("n_days"), "n_dows",
        ssb.alias("ssb_q"), sst.alias("sst_q"),
        F.when(sst > 0,
               F.round(ssb.cast("double") / sst, 6) + F.lit(0.0))
        .otherwise(F.lit(0.0)).alias("eta_sq"),
    )


# -- inter-arrival gap statistics + burstiness ---------------------------------
@register(
    "q_interarrival_stats",
    """
    WITH es AS (
      SELECT event_type, event_id,
             (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01')) // 1000000
               AS t
      FROM events),
    gaps AS (
      SELECT event_type,
             t - lag(t) OVER (PARTITION BY event_type
                              ORDER BY t, event_id) AS g
      FROM es QUALIFY g IS NOT NULL),
    mom AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(g) AS BIGINT) AS s,
             CAST(sum(g * g) AS BIGINT) AS ssq,
             CAST(min(g) AS BIGINT) AS min_gap_s,
             CAST(max(g) AS BIGINT) AS max_gap_s
      FROM gaps GROUP BY event_type)
    SELECT event_type, n AS n_gaps, min_gap_s, max_gap_s,
           round(CAST(s AS DOUBLE) / n, 3) + 0.0 AS mean_gap_s,
           CASE WHEN sqrt((CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                          / n) + CAST(s AS DOUBLE) / n > 0
                THEN round((sqrt((CAST(ssq AS DOUBLE)
                                  - CAST(s AS DOUBLE) * s / n) / n)
                            - CAST(s AS DOUBLE) / n)
                           / (sqrt((CAST(ssq AS DOUBLE)
                                    - CAST(s AS DOUBLE) * s / n) / n)
                              + CAST(s AS DOUBLE) / n), 6) + 0.0
                END AS burstiness
    FROM mom
    """,
)
def q_interarrival_stats(spark, sf_dir):
    """Inter-arrival gap statistics per event type, with the Goh-
    Barabasi burstiness B = (sigma - mu)/(sigma + mu): -1 for a
    metronome, ~0 for a Poisson stream, ->1 for heavy bursts — the
    event-stream twin of q_token_burstiness.  Gaps are exact integer
    seconds (epoch microseconds floor-divided on both engines), the
    moments are BIGINTs, and B is one mirrored float chain.  Plan: one
    per-type ordered window for the lag, one moment agg.  Scale note:
    event_type is low-cardinality, so this window concentrates a type's
    events in one partition; at 100-TB scale the same gaps come from a
    two-pass form — diff inside (type, day) buckets, then stitch bucket
    boundaries with per-bucket min/max ts — which shuffles on the
    composite key instead.  The moments are identical either way."""
    from pyspark.sql import Window

    es = load(spark, sf_dir, "events").select(
        "event_type", "event_id",
        F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
               " div 1000000").alias("t"))
    w = Window.partitionBy("event_type").orderBy("t", "event_id")
    gaps = (
        es.select("event_type",
                  (F.col("t") - F.lag("t").over(w)).alias("g"))
        .filter(F.col("g").isNotNull())
    )
    mom = gaps.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("g").cast("long").alias("s"),
        F.sum(F.col("g") * F.col("g")).cast("long").alias("ssq"),
        F.min("g").cast("long").alias("min_gap_s"),
        F.max("g").cast("long").alias("max_gap_s"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    sigma = F.sqrt((F.col("ssq").cast("double")
                    - F.col("s").cast("double") * F.col("s") / F.col("n"))
                   / F.col("n"))
    return mom.select(
        "event_type", F.col("n").alias("n_gaps"),
        "min_gap_s", "max_gap_s",
        (F.round(mu, 3) + F.lit(0.0)).alias("mean_gap_s"),
        F.when(sigma + mu > 0,
               F.round((sigma - mu) / (sigma + mu), 6) + F.lit(0.0))
        .alias("burstiness"),
    )


# -- cohort cumulative value (LTV curve) ---------------------------------------
@register(
    "q_cohort_value",
    """
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort
      FROM events GROUP BY user_id),
    cohort_sizes AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users
      FROM firsts GROUP BY cohort),
    wk AS (
      SELECT f.cohort,
             CAST((epoch(date_trunc('week', e.ts)) - epoch(f.cohort))
                  // 604800 AS BIGINT) AS week_offset,
             CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active,
             CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS value_cents
      FROM events e JOIN firsts f USING (user_id)
      GROUP BY 1, 2),
    cum AS (
      SELECT cohort, week_offset, n_active, value_cents,
             CAST(sum(value_cents) OVER (
               PARTITION BY cohort ORDER BY week_offset
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_value_cents
      FROM wk)
    SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort_week,
           c.week_offset, s.cohort_users, c.n_active, c.value_cents,
           c.cum_value_cents,
           round(c.cum_value_cents / 100.0 / s.cohort_users, 4) + 0.0
             AS cum_value_per_user
    FROM cum c JOIN cohort_sizes s USING (cohort)
    """,
)
def q_cohort_value(spark, sf_dir):
    """Cohort lifetime-value curve: cumulative event value per first-seen
    week cohort across week offsets, normalized per cohort user — the
    money twin of q_retention_cohorts' activity matrix.  Values quantize
    to integer cents at the row level (the established cents discipline),
    so every aggregate including the running cumulative is an exact
    BIGINT; the per-user normalization is one mirrored division.  Plan:
    two user/cohort aggs + a cohort-size broadcast + one #offsets-bounded
    window per cohort."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort"))
    sizes = firsts.groupBy("cohort").agg(
        F.count("*").cast("long").alias("cohort_users"))
    offset = (
        F.datediff(F.date_trunc("week", "ts").cast("date"),
                   F.col("cohort").cast("date")) / 7
    ).cast("long")
    wk = (
        ev.join(firsts, "user_id")
        .groupBy("cohort", offset.alias("week_offset"))
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"),
             F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
             .cast("long").alias("value_cents"))
    )
    w = (Window.partitionBy("cohort").orderBy("week_offset")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = wk.withColumn(
        "cum_value_cents", F.sum("value_cents").over(w).cast("long"))
    return (
        cum.join(F.broadcast(sizes), "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset", "cohort_users", "n_active", "value_cents",
            "cum_value_cents",
            (F.round(F.col("cum_value_cents") / 100.0
                     / F.col("cohort_users"), 4) + F.lit(0.0))
            .alias("cum_value_per_user"),
        )
    )


# -- RFM segmentation ----------------------------------------------------------
# Quintile edges are ORDER STATISTICS off per-metric value histograms
# (k_j-th smallest with k_j = ceil(j*n/5)), found as min(v) where the
# cumulative count reaches k_j — the same exact-median discipline as
# q_levene_bf generalized to 4 cut points.  score(v) = 1 + #edges < v,
# a pure integer comparison, so segments replay exactly.
def _rfm_edges_sql(metric: str) -> str:
    return f"""
      SELECT {", ".join(
        f"min(CASE WHEN cum >= (({j} * n + 4) // 5) THEN v END) AS e{j}"
        for j in range(1, 5))}
      FROM (
        SELECT v, CAST(sum(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
               CAST(sum(c) OVER () AS BIGINT) AS n
        FROM (SELECT {metric} AS v, CAST(count(*) AS BIGINT) AS c
              FROM rfm GROUP BY 1))"""


def _rfm_oracle() -> str:
    return f"""
    WITH mx AS (SELECT max(ts) AS mt FROM events),
    rfm AS (
      SELECT user_id,
             CAST(datediff('day', CAST(max(ts) AS DATE),
                           CAST(any_value(mx.mt) AS DATE)) AS BIGINT)
               AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) // 100
                  AS BIGINT) AS monetary_usd
      FROM events CROSS JOIN mx GROUP BY user_id),
    re AS ({_rfm_edges_sql("recency_days")}),
    fe AS ({_rfm_edges_sql("frequency")}),
    me AS ({_rfm_edges_sql("monetary_usd")})
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(frequency) AS BIGINT) AS total_events,
           CAST(sum(monetary_usd) AS BIGINT) AS total_usd
    FROM (
      SELECT CAST(1 + (recency_days > re_.e1)::INT + (recency_days > re_.e2)::INT
                  + (recency_days > re_.e3)::INT + (recency_days > re_.e4)::INT
                  AS BIGINT) AS r_score,
             CAST(1 + (frequency > fe_.e1)::INT + (frequency > fe_.e2)::INT
                  + (frequency > fe_.e3)::INT + (frequency > fe_.e4)::INT
                  AS BIGINT) AS f_score,
             CAST(1 + (monetary_usd > me_.e1)::INT
                  + (monetary_usd > me_.e2)::INT
                  + (monetary_usd > me_.e3)::INT
                  + (monetary_usd > me_.e4)::INT AS BIGINT) AS m_score,
             frequency, monetary_usd
      FROM rfm CROSS JOIN re re_ CROSS JOIN fe fe_ CROSS JOIN me me_)
    GROUP BY 1, 2, 3
    """


@register("q_rfm_segments", _rfm_oracle())
def q_rfm_segments(spark, sf_dir):
    """RFM segmentation of the user base: recency (days since last
    event, against the corpus max), frequency (event count), monetary
    (cent-quantized value sum), each scored 1-5 by exact order-statistic
    quintile edges (see header note) and aggregated to segment counts —
    the classic behavioral-cohort table.  Scores are ascending-value
    quintiles on all three axes; monetary quantizes to whole dollars
    (cents div 100) so the edge histogram's value domain stays bounded
    at any user count (cent sums are near-unique per user at scale).  Plan: one user agg, three bounded
    value-histogram windows for the edges, three 1-row edge broadcasts,
    one segment agg."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("mt"))
    rfm = (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.datediff(F.first("mt").cast("date"),
                       F.max("ts").cast("date"))
            .cast("long").alias("recency_days"),
            F.count("*").cast("long").alias("frequency"),
            F.expr("sum(CAST(floor(value * 100 + 0.5) AS LONG)) div 100")
            .cast("long").alias("monetary_usd"),
        )
    )
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    rfm = materialize_once(rfm, "rfm_users")

    def edges(metric):
        hist = rfm.groupBy(F.col(metric).alias("v")).agg(
            F.count("*").cast("long").alias("c"))
        w = (Window.orderBy("v")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        cdf = hist.select(
            "v", F.sum("c").over(w).cast("long").alias("cum"),
            F.sum("c").over(
                Window.rowsBetween(Window.unboundedPreceding,
                                   Window.unboundedFollowing))
            .cast("long").alias("n"))
        return cdf.agg(*[
            F.min(F.when(
                F.col("cum") >= F.expr(f"({j} * n + 4) div 5"),
                F.col("v"))).alias(f"e{j}")
            for j in range(1, 5)])

    def score(metric, e):
        s = F.lit(1)
        for j in range(1, 5):
            s = s + F.when(F.col(metric) > e[f"e{j}"], 1).otherwise(0)
        return s.cast("long")

    re_, fe, me = edges("recency_days"), edges("frequency"), edges(
        "monetary_usd")
    re_ = re_.select(*[F.col(f"e{j}").alias(f"re{j}") for j in range(1, 5)])
    fe = fe.select(*[F.col(f"e{j}").alias(f"fe{j}") for j in range(1, 5)])
    me = me.select(*[F.col(f"e{j}").alias(f"me{j}") for j in range(1, 5)])
    scored = (
        rfm.crossJoin(F.broadcast(re_))
        .crossJoin(F.broadcast(fe))
        .crossJoin(F.broadcast(me))
        .select(
            score("recency_days",
                  {f"e{j}": F.col(f"re{j}") for j in range(1, 5)})
            .alias("r_score"),
            score("frequency",
                  {f"e{j}": F.col(f"fe{j}") for j in range(1, 5)})
            .alias("f_score"),
            score("monetary_usd",
                  {f"e{j}": F.col(f"me{j}") for j in range(1, 5)})
            .alias("m_score"),
            "frequency", "monetary_usd",
        )
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("frequency").cast("long").alias("total_events"),
        F.sum("monetary_usd").cast("long").alias("total_usd"),
    )


# -- event-type user-overlap matrix ---------------------------------------------
@register(
    "q_event_type_overlap",
    """
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n
      FROM tu GROUP BY event_type),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM tu a JOIN tu b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_both,
           round(CAST(i.n_both AS DOUBLE)
                 / (sa.n + sb.n - i.n_both), 6) + 0.0 AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    """,
)
def q_event_type_overlap(spark, sf_dir):
    """User-base overlap between every pair of event types: exact
    intersection counts off the distinct (type, user) frame and the
    Jaccard of the user sets — the feature-co-usage matrix (which
    behaviors share an audience).  Plan: one distinct agg, a user-keyed
    self-join producing #types^2-bounded pairs, two broadcast size
    joins; one mirrored division."""
    tu = (
        load(spark, sf_dir, "events")
        .select("event_type", "user_id").distinct()
    )
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    tu = materialize_once(tu, "eto_tu")
    sizes = tu.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"))
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"),
                      F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"),
                      F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a", "type_b", "n_a", "n_b", "n_both",
            (F.round(F.col("n_both").cast("double")
                     / (F.col("n_a") + F.col("n_b") - F.col("n_both")), 6)
             + F.lit(0.0)).alias("jaccard"),
        )
    )


# -- daily event-mix entropy ------------------------------------------------------
_MIX_SCALE = 10**12


@register(
    "q_daily_mix_entropy",
    f"""
    WITH cells AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    days AS (
      SELECT day, CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_types
      FROM cells GROUP BY day),
    terms AS (
      SELECT c.day, d.n, d.n_types,
             CAST(floor((CAST(c.c AS DOUBLE) / d.n)
                        * ln(CAST(c.c AS DOUBLE) / d.n)
                        * {_MIX_SCALE}) AS BIGINT) AS tq
      FROM cells c JOIN days d USING (day))
    SELECT day, any_value(n) AS n_events, any_value(n_types) AS n_types,
           round(-CAST(sum(tq) AS BIGINT) / {float(_MIX_SCALE)!r}, 6)
             + 0.0 AS mix_entropy,
           CASE WHEN any_value(n_types) > 1
                THEN round(-CAST(sum(tq) AS BIGINT) / {float(_MIX_SCALE)!r}
                           / ln(CAST(any_value(n_types) AS DOUBLE)), 6)
                     + 0.0 END AS evenness
    FROM terms GROUP BY day
    """,
)
def q_daily_mix_entropy(spark, sf_dir):
    """Entropy of the event-type mix per day, with Pielou evenness
    (entropy / ln(#types)) — the one-number drift signal for "did the
    traffic composition change today" (complements q_psi_drift's
    bucket-level view).  Per-cell p*ln(p) terms quantize to 1e-12
    BIGINTs so the per-day sum is order-independent.  Plan: one
    (day, type) agg + one day agg + a broadcast-size join back."""
    cells = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"),
                 "event_type")
        .agg(F.count("*").cast("long").alias("c"))
    )
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    cells = materialize_once(cells, "mix_cells")
    days = cells.groupBy("day").agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_types"))
    p = F.col("c").cast("double") / F.col("n")
    terms = cells.join(F.broadcast(days), "day").select(
        "day", "n", "n_types",
        F.floor(p * F.log(p) * _MIX_SCALE).cast("long").alias("tq"))
    sc = float(_MIX_SCALE)
    return (
        terms.groupBy("day")
        .agg(F.first("n").alias("n_events"),
             F.first("n_types").alias("n_types"),
             F.sum("tq").cast("long").alias("sq"))
        .select(
            "day", "n_events", "n_types",
            (F.round(-F.col("sq") / sc, 6) + F.lit(0.0))
            .alias("mix_entropy"),
            F.when(F.col("n_types") > 1,
                   F.round(-F.col("sq") / sc
                           / F.log(F.col("n_types").cast("double")), 6)
                   + F.lit(0.0)).alias("evenness"),
        )
    )


# -- entropy rate of the event-type Markov chain ---------------------------------
@register(
    "q_event_entropy_rate",
    f"""
    WITH seq AS (
      SELECT user_id, event_type AS a,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS b
      FROM events QUALIFY b IS NOT NULL),
    tr AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS c12
      FROM seq GROUP BY a, b),
    hb AS (
      SELECT sum(CAST(c12 AS HUGEINT)
                 * CAST(round(log2(c12) * {_ENT_SCALE}) AS HUGEINT))
               AS hq_bi,
             CAST(sum(c12) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM tr),
    hc AS (
      SELECT sum(CAST(c1 AS HUGEINT)
                 * CAST(round(log2(c1) * {_ENT_SCALE}) AS HUGEINT))
               AS hq_ctx,
             CAST(count(*) AS BIGINT) AS n_states
      FROM (SELECT a, sum(c12) AS c1 FROM tr GROUP BY a))
    SELECT n AS n_transitions, n_states, n_pairs,
           round(CAST(hq_ctx - hq_bi AS DOUBLE)
                 / (CAST(n AS DOUBLE) * {_ENT_SCALE}.0), 6) + 0.0
             AS h_rate_bits
    FROM hb CROSS JOIN hc
    """,
)
def q_event_entropy_rate(spark, sf_dir):
    """Entropy rate of the user-behavior Markov chain: H(next type |
    current type) over all per-user consecutive event pairs — how
    predictable the NEXT action is given the current one (0 =
    deterministic flows, log2(#types) = uniform wandering); the event
    twin of the corpus bigram conditional entropy, same exact HUGEINT/
    decimal(38,0) identity H = (Σ c1·log2 c1 − Σ c12·log2 c12)/N.
    Plan: one user-ordered window for the transitions, one (a, b) agg,
    two 1-row attaches."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        ev.select("user_id", F.col("event_type").alias("a"),
                  F.lead("event_type").over(w).alias("b"))
        .filter(F.col("b").isNotNull())
    )
    tr = seq.groupBy("a", "b").agg(F.count("*").cast("long").alias("c12"))
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    tr = materialize_once(tr, "eer_tr")

    def lg(c):
        return F.round(F.log2(c) * F.lit(_ENT_SCALE)).cast("long")

    hb = tr.agg(
        F.sum((F.col("c12") * lg(F.col("c12"))).cast("decimal(38,0)"))
        .alias("hq_bi"),
        F.sum("c12").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_pairs"),
    )
    hc = (
        tr.groupBy("a").agg(F.sum("c12").alias("c1"))
        .agg(F.sum((F.col("c1") * lg(F.col("c1")))
                   .cast("decimal(38,0)")).alias("hq_ctx"),
             F.count("*").cast("long").alias("n_states"))
    )
    return (
        hb.crossJoin(F.broadcast(hc))
        .select(
            F.col("n").alias("n_transitions"), "n_states", "n_pairs",
            (F.round((F.col("hq_ctx") - F.col("hq_bi")).cast("double")
                     / (F.col("n").cast("double") * _ENT_SCALE), 6)
             + F.lit(0.0)).alias("h_rate_bits"),
        )
    )


# -- weekly growth accounting -----------------------------------------------------
@register(
    "q_growth_accounting",
    """
    WITH activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
    firsts AS (
      SELECT user_id, min(wk) AS first_wk FROM activity GROUP BY user_id),
    flags AS (
      SELECT a.user_id, a.wk,
             a.wk = f.first_wk AS is_new,
             p.user_id IS NOT NULL AS was_prev
      FROM activity a
      JOIN firsts f USING (user_id)
      LEFT JOIN activity p
        ON p.user_id = a.user_id AND p.wk = a.wk - INTERVAL 7 DAY),
    weekly AS (
      SELECT strftime(wk, '%Y-%m-%d') AS week,
             CAST(count(*) AS BIGINT) AS n_active,
             CAST(coalesce(sum(CASE WHEN is_new THEN 1 END), 0) AS BIGINT)
               AS n_new,
             CAST(coalesce(sum(CASE WHEN was_prev THEN 1 END), 0)
                  AS BIGINT) AS n_retained,
             CAST(coalesce(sum(CASE WHEN NOT is_new AND NOT was_prev
                               THEN 1 END), 0) AS BIGINT) AS n_resurrected
      FROM flags GROUP BY 1),
    churn AS (
      SELECT strftime(a.wk + INTERVAL 7 DAY, '%Y-%m-%d') AS week,
             CAST(count(*) AS BIGINT) AS n_churned
      FROM activity a
      LEFT JOIN activity nx
        ON nx.user_id = a.user_id AND nx.wk = a.wk + INTERVAL 7 DAY
      WHERE nx.user_id IS NULL
      GROUP BY 1)
    SELECT w.week, w.n_active, w.n_new, w.n_retained, w.n_resurrected,
           CAST(coalesce(c.n_churned, 0) AS BIGINT) AS n_churned_into
    FROM weekly w LEFT JOIN churn c USING (week)
    """,
)
def q_growth_accounting(spark, sf_dir):
    """Weekly growth accounting of the user base: active = new +
    retained + resurrected, plus the churn flowing INTO each week
    (users active the prior week who did not return) — the standard
    decomposition behind every growth dashboard (n_churned_into for a
    week beyond the observed range is simply not emitted; rows exist
    only for observed activity weeks).  Pure set logic on the distinct
    (user, week) frame, all BIGINT counts.  Plan: one distinct agg +
    user/week-keyed self-joins; nothing wider than (user, week)."""
    ev = load(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")).distinct()
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    activity = materialize_once(activity, "ga_activity")
    firsts = activity.groupBy("user_id").agg(F.min("wk").alias("first_wk"))
    prev = activity.select(
        "user_id",
        (F.col("wk").cast("date") + F.expr("INTERVAL 7 DAY"))
        .cast("timestamp").alias("wk"),
        F.lit(True).alias("was_prev"))
    flags = (
        activity.join(firsts, "user_id")
        .join(prev, ["user_id", "wk"], "left")
        .select(
            "wk",
            (F.col("wk") == F.col("first_wk")).alias("is_new"),
            F.coalesce("was_prev", F.lit(False)).alias("was_prev"))
    )
    weekly = (
        flags.groupBy(F.date_format("wk", "yyyy-MM-dd").alias("week"))
        .agg(
            F.count("*").cast("long").alias("n_active"),
            F.coalesce(F.sum(F.when(F.col("is_new"), 1)), F.lit(0))
            .cast("long").alias("n_new"),
            F.coalesce(F.sum(F.when(F.col("was_prev"), 1)), F.lit(0))
            .cast("long").alias("n_retained"),
            F.coalesce(
                F.sum(F.when(~F.col("is_new") & ~F.col("was_prev"), 1)),
                F.lit(0)).cast("long").alias("n_resurrected"),
        )
    )
    nxt = activity.select(
        "user_id",
        (F.col("wk").cast("date") + F.expr("INTERVAL 7 DAY"))
        .cast("timestamp").alias("nwk"))
    churn = (
        nxt.join(activity.withColumnRenamed("wk", "nwk"),
                 ["user_id", "nwk"], "left_anti")
        .groupBy(F.date_format("nwk", "yyyy-MM-dd").alias("week"))
        .agg(F.count("*").cast("long").alias("n_churned"))
    )
    return (
        weekly.join(churn, "week", "left")
        .select("week", "n_active", "n_new", "n_retained",
                "n_resurrected",
                F.coalesce("n_churned", F.lit(0)).cast("long")
                .alias("n_churned_into"))
    )


# -- DAU/WAU stickiness -----------------------------------------------------------
@register(
    "q_stickiness",
    """
    WITH daily AS (
      SELECT date_trunc('week', ts) AS wk, strftime(ts, '%Y-%m-%d') AS day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1, 2),
    weekly AS (
      SELECT date_trunc('week', ts) AS wk,
             CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      FROM events GROUP BY 1)
    SELECT strftime(d.wk, '%Y-%m-%d') AS week, w.wau,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(d.dau) AS BIGINT) AS dau_sum,
           round(CAST(sum(d.dau) AS DOUBLE) / count(*) / w.wau, 6) + 0.0
             AS stickiness
    FROM daily d JOIN weekly w USING (wk)
    GROUP BY d.wk, w.wau
    """,
)
def q_stickiness(spark, sf_dir):
    """DAU/WAU stickiness per week: mean daily actives over weekly
    actives — the canonical engagement-frequency ratio (1.0 = everyone
    active every day).  Distinct counts are exact BIGINTs; one
    mirrored division.  Plan: two distinct-count aggs + one week-keyed
    join; nothing wider than (week, day)."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.date_trunc("week", "ts").alias("wk"),
                   F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").cast("long").alias("dau"))
    )
    weekly = (
        ev.groupBy(F.date_trunc("week", "ts").alias("wk"))
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )
    return (
        daily.join(weekly, "wk")
        .groupBy(F.date_format("wk", "yyyy-MM-dd").alias("week"), "wau")
        .agg(F.count("*").cast("long").alias("n_days"),
             F.sum("dau").cast("long").alias("dau_sum"))
        .select(
            "week", "wau", "n_days", "dau_sum",
            (F.round(F.col("dau_sum").cast("double") / F.col("n_days")
                     / F.col("wau"), 6) + F.lit(0.0)).alias("stickiness"),
        )
    )


# -- return-time histogram ----------------------------------------------------------
@register(
    "q_return_time_hist",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    gaps AS (
      SELECT user_id,
             datediff('day', lag(d) OVER (PARTITION BY user_id ORDER BY d),
                      d) AS gap
      FROM days QUALIFY gap IS NOT NULL),
    hist AS (
      SELECT CAST(gap AS BIGINT) AS gap_days,
             CAST(count(*) AS BIGINT) AS n_returns
      FROM gaps GROUP BY gap),
    tot AS (SELECT CAST(sum(n_returns) AS BIGINT) AS n FROM hist)
    SELECT gap_days, n_returns,
           round(CAST(n_returns AS DOUBLE) / t.n, 6) + 0.0 AS frac,
           round(CAST(sum(n_returns) OVER (ORDER BY gap_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / t.n, 6) + 0.0 AS cum_frac
    FROM hist CROSS JOIN tot t
    """,
)
def q_return_time_hist(spark, sf_dir):
    """Return-time histogram: days between a user's consecutive ACTIVE
    days, with the cumulative "returned within g days" curve — the
    distribution behind retention-window choices (the user-granular
    twin of q_interarrival_stats' per-type gaps).  Gaps are exact
    integer day differences; fractions are mirrored divisions.  Plan:
    one distinct (user, day) agg, one user-ordered window, a
    #distinct-gaps-bounded histogram."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("d")) \
        .distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    gaps = (
        days.select("user_id",
                    F.datediff("d", F.lag("d").over(w)).alias("gap"))
        .filter(F.col("gap").isNotNull())
    )
    hist = gaps.groupBy(F.col("gap").cast("long").alias("gap_days")) \
        .agg(F.count("*").cast("long").alias("n_returns"))
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    hist = materialize_once(hist, "rth_hist")
    tot = hist.agg(F.sum("n_returns").cast("long").alias("n"))
    wc = (Window.orderBy("gap_days")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "gap_days", "n_returns",
            (F.round(F.col("n_returns").cast("double") / F.col("n"), 6)
             + F.lit(0.0)).alias("frac"),
            (F.round(F.sum("n_returns").over(wc).cast("double")
                     / F.col("n"), 6) + F.lit(0.0)).alias("cum_frac"),
        )
    )


# -- daily control bands (exact P10/P50/P90 per event type) -------------------------
@register(
    "q_daily_bands",
    """
    WITH daily AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    hist AS (
      SELECT event_type, y AS v, CAST(count(*) AS BIGINT) AS c
      FROM daily GROUP BY event_type, y),
    cdf AS (
      SELECT event_type, v,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM hist)
    SELECT event_type, any_value(n) AS n_days,
           CAST(min(CASE WHEN cum >= (1 * n + 9) // 10 THEN v END)
                AS BIGINT) AS p10,
           CAST(min(CASE WHEN cum >= (5 * n + 9) // 10 THEN v END)
                AS BIGINT) AS p50,
           CAST(min(CASE WHEN cum >= (9 * n + 9) // 10 THEN v END)
                AS BIGINT) AS p90
    FROM cdf GROUP BY event_type
    """,
)
def q_daily_bands(spark, sf_dir):
    """Exact P10/P50/P90 control bands of the daily count per event
    type — the dashboard bands behind "is today's volume unusual"
    (reads against q_sax_daily/q_cusum_by_type, which flag points; this
    draws the envelope).  Percentiles are order statistics at
    ceil(q*n) off the per-type day histogram — pure integers, no
    interpolation, replays exactly.  Plan: daily agg -> per-type
    bounded histogram windows -> one agg."""
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type",
                 F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(F.count("*").cast("long").alias("y"))
    )
    hist = daily.groupBy("event_type", F.col("y").alias("v")).agg(
        F.count("*").cast("long").alias("c"))
    w = (Window.partitionBy("event_type").orderBy("v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cdf = hist.select(
        "event_type", "v",
        F.sum("c").over(w).cast("long").alias("cum"),
        F.sum("c").over(Window.partitionBy("event_type"))
        .cast("long").alias("n"))

    def pct(q):
        return F.min(F.when(
            F.col("cum") >= F.expr(f"({q} * n + 9) div 10"),
            F.col("v"))).cast("long")

    return cdf.groupBy("event_type").agg(
        F.first("n").alias("n_days"),
        pct(1).alias("p10"), pct(5).alias("p50"), pct(9).alias("p90"))


# -- user concentration per event type --------------------------------------------------
@register(
    "q_type_user_hhi",
    """
    WITH grp AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, user_id),
    agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(c) AS BIGINT) AS n_events,
             CAST(sum(c * c) AS BIGINT) AS s2
      FROM grp GROUP BY event_type)
    SELECT event_type, n_users, n_events,
           round(CAST(s2 AS DOUBLE) / n_events / n_events, 6) + 0.0
             AS hhi,
           round(CAST(n_events AS DOUBLE) * n_events / s2, 4) + 0.0
             AS effective_users
    FROM agg
    """,
)
def q_type_user_hhi(spark, sf_dir):
    """Herfindahl concentration of each event type over its users: is
    the type's volume broad-based or driven by a handful of heavy
    accounts (effective_users = 1/HHI) — the per-type refinement of
    q_hhi_concentration's corpus view, and the bot-traffic smell test.
    Exact BIGINT share sums, one mirrored division each.  Plan: one
    (type, user) agg + one type agg."""
    grp = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    agg = grp.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("c").cast("long").alias("n_events"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    ne = F.col("n_events").cast("double")
    return agg.select(
        "event_type", "n_users", "n_events",
        (F.round(F.col("s2") / ne / F.col("n_events"), 6) + F.lit(0.0))
        .alias("hhi"),
        (F.round(ne * F.col("n_events") / F.col("s2"), 4) + F.lit(0.0))
        .alias("effective_users"),
    )


# -- cross-correlation between event-type daily series --------------------------------
_XCORR_LAGS = [0, 1, 2, 3]


@register(
    "q_xcorr_types",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    lags AS (SELECT unnest({_XCORR_LAGS}) AS lag),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
             a.y AS x, b.y AS y
      FROM daily a
      CROSS JOIN lags l
      JOIN daily b
        ON b.event_type > a.event_type
       AND b.d = a.d + CAST(l.lag AS INTEGER)),
    mom AS (
      SELECT type_a, type_b, lag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM pairs GROUP BY 1, 2, 3)
    SELECT type_a, type_b, CAST(lag AS BIGINT) AS lag, n AS n_days,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                           / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                  * (n * syy - sy * sy)), 6) + 0.0
                END AS pearson_r
    FROM mom
    """,
)
def q_xcorr_types(spark, sf_dir):
    """Lagged cross-correlation between every event-type pair's daily
    series: Pearson r of (x_t, y_(t+lag)) for a small lag spine — does
    one behavior lead another (lag 0 = co-movement, positive lags =
    type_a leads type_b).  Exact BIGINT moments off the day-aligned
    join, one mirrored float per cell, zero-variance guard.  Plan: one
    daily agg, a 4-row lag spine, a day-keyed equi-join bounded by
    #types^2 x #days x #lags, one moment agg."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type",
                 F.date_trunc("day", "ts").cast("date").alias("d"))
        .agg(F.count("*").cast("long").alias("y"))
    )
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    daily = materialize_once(daily, "xcorr_daily")
    lags = spark.createDataFrame([(l,) for l in _XCORR_LAGS], "lag int")
    a = daily.select(F.col("event_type").alias("type_a"),
                     F.col("d").alias("da"), F.col("y").alias("x"))
    b = daily.select(F.col("event_type").alias("type_b"),
                     F.col("d").alias("db"), F.col("y").alias("yy"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, (F.col("type_b") > F.col("type_a"))
              & (F.col("db") == F.expr("date_add(da, lag)")))
    )
    mom = pairs.groupBy("type_a", "type_b", "lag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("yy").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("yy") * F.col("yy")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("yy")).cast("long").alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return mom.select(
        "type_a", "type_b", F.col("lag").cast("long").alias("lag"),
        F.col("n").alias("n_days"),
        F.when((vx > 0) & (vy > 0),
               F.round((F.col("n") * F.col("sxy")
                        - F.col("sx") * F.col("sy")).cast("double")
                       / F.sqrt(vx.cast("double") * vy), 6) + F.lit(0.0))
        .alias("pearson_r"),
    )


# -- Holt linear (double-exponential) smoothing over daily volume -----------
def _holt_oracle() -> str:
    from nonconsumptive_spark.operators.grouped import (
        HOLT_ALPHA, HOLT_BETA, HOLT_SCALE)

    a, b = HOLT_ALPHA, HOLT_BETA
    quant = (lambda v: f"CAST(floor(({v}) * {HOLT_SCALE}) AS BIGINT)"
             f" / {float(HOLT_SCALE)} + 0.0")
    return f"""
    WITH RECURSIVE days AS (
      SELECT day, cnt,
             row_number() OVER (ORDER BY day) AS i
      FROM (SELECT strftime(ts, '%Y-%m-%d') AS day,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1)),
    rec AS (
      SELECT i, day, cnt, CAST(cnt AS DOUBLE) AS l,
             CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS fe
      FROM days WHERE i = 1
      UNION ALL
      SELECT d.i, d.day, d.cnt,
             {a} * CAST(d.cnt AS DOUBLE) + {1.0 - a} * (r.l + r.b) AS l,
             {b} * (({a} * CAST(d.cnt AS DOUBLE)
                     + {1.0 - a} * (r.l + r.b)) - r.l)
               + {1.0 - b} * r.b AS b,
             CAST(d.cnt AS DOUBLE) - (r.l + r.b) AS fe
      FROM rec r JOIN days d ON d.i = r.i + 1)
    SELECT day, cnt AS n_events,
           {quant('l')} AS level,
           {quant('b')} AS trend,
           {quant('fe')} AS forecast_err
    FROM rec
    """


@register("q_holt_linear_daily", _holt_oracle())
def q_holt_linear_daily(spark, sf_dir):
    """Holt's linear-trend smoothing over the daily event series
    (operators/grouped.holt_linear_daily): the trend-aware sibling of
    the EWMA monitor, fold bounded by the day spine; the oracle replays
    the coupled (level, trend) recurrence with a recursive CTE over the
    identical IEEE op sequence."""
    from nonconsumptive_spark.operators.grouped import holt_linear_daily

    return holt_linear_daily(load(spark, sf_dir, "events"))


# -- gapped sequential-pattern support (a ... then b) ------------------------
@register(
    "q_seq_pattern_pairs",
    """
    WITH ut AS (
      SELECT user_id, event_type,
             min(ts) AS t_min, max(ts) AS t_max
      FROM events GROUP BY user_id, event_type)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_users_both,
           CAST(sum(CASE WHEN a.t_min < b.t_max THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ordered,
           round(CAST(sum(CASE WHEN a.t_min < b.t_max THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) + 0.0 AS ordered_ratio
    FROM ut a JOIN ut b
      ON a.user_id = b.user_id AND a.event_type <> b.event_type
    GROUP BY a.event_type, b.event_type
    """,
)
def q_seq_pattern_pairs(spark, sf_dir):
    """Gapped sequential-pattern support: for every ordered event-type
    pair (a, b), the count of users with SOME a strictly before SOME b
    (min ts of a < max ts of b) — the any-gap generalization of the
    adjacent-only q_event_transitions, i.e. sequential pattern mining's
    k=2 pass with unbounded gap.  Per-user per-type (min, max) is one
    exact agg; the user-keyed self-join fans out only to the per-user
    TYPE count (bounded by the type vocabulary, not events), then one
    short-key agg."""
    ev = load(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("t_min"), F.max("ts").alias("t_max"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"),
                  F.col("t_min").alias("ta_min"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"),
                  F.col("t_max").alias("tb_max"))
    ordered = F.when(F.col("ta_min") < F.col("tb_max"), 1).otherwise(0)
    return (
        a.join(b, "user_id")
        .filter(F.col("type_a") != F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count("*").cast("long").alias("n_users_both"),
            F.sum(ordered).cast("long").alias("n_ordered"),
            (F.round(F.sum(ordered).cast("double") / F.count("*"), 6)
             + F.lit(0.0)).alias("ordered_ratio"),
        )
    )


# -- funnel time-to-convert quantiles --------------------------------------------
_TTC_FROM = "click"
_TTC_TO = "purchase"


def _ttc_oracle() -> str:
    return f"""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = '{_TTC_FROM}' THEN ts END) AS t0
      FROM events GROUP BY user_id),
    conv AS (
      SELECT f.user_id,
             (epoch_us(min(e.ts)) - epoch_us(f.t0)) // 1000000 AS secs
      FROM firsts f
      JOIN events e ON e.user_id = f.user_id
                    AND e.event_type = '{_TTC_TO}' AND e.ts > f.t0
      WHERE f.t0 IS NOT NULL
      GROUP BY f.user_id, f.t0),
    hist AS (
      SELECT secs, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(count(*)) OVER (ORDER BY secs) AS BIGINT) AS cum
      FROM conv GROUP BY secs),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM conv)
    SELECT t.n AS n_converted,
           (SELECT min(secs) FROM hist
            WHERE cum >= (t.n + 1) // 2) AS median_s,
           (SELECT min(secs) FROM hist
            WHERE cum >= (9 * t.n + 9) // 10) AS p90_s
    FROM tot t
    """


@register("q_time_to_convert", _ttc_oracle())
def q_time_to_convert(spark, sf_dir):
    """Funnel latency: per user, seconds from the FIRST '{from}' event to
    the first subsequent '{to}' event, with the exact median and p90 as
    order statistics off a seconds histogram (the repo's exact-quantile
    discipline — no percentile float interpolation).  Durations come
    from microsecond epoch differences floored to seconds with integer
    division (second-truncation semantics differ across engines; the
    micros route does not).  Plan: one user agg + one user-keyed join
    narrowed to the target type + a histogram window over distinct
    durations."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    firsts = (ev.groupBy("user_id")
              .agg(F.min(F.when(F.col("event_type") == _TTC_FROM,
                                F.col("ts"))).alias("t0"))
              .filter(F.col("t0").isNotNull()))
    conv = (
        ev.filter(F.col("event_type") == _TTC_TO)
        .join(firsts, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id", "t0")
        .agg(F.min("ts").alias("t1"))
        .select(F.expr("timestampdiff(MICROSECOND, t0, t1) div 1000000")
                .alias("secs"))
    )
    from nonconsumptive_spark.plans.checkpoint import materialize_once
    conv = materialize_once(conv, "ttc_secs")
    w = Window.orderBy("secs").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    hist = (conv.groupBy("secs").agg(F.count("*").cast("long").alias("c"))
            .withColumn("cum", F.sum("c").over(w).cast("long")))
    tot = conv.agg(F.count("*").cast("long").alias("n"))
    hx = hist.crossJoin(F.broadcast(tot))
    med = (hx.filter(F.col("cum") >= F.expr("(n + 1) div 2"))
           .agg(F.min("secs").alias("median_s")))
    p90 = (hx.filter(F.col("cum") >= F.expr("(9 * n + 9) div 10"))
           .agg(F.min("secs").alias("p90_s")))
    return (
        tot.select(F.col("n").alias("n_converted"))
        .crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(p90))
    )


# -- exact Shapley-value conversion attribution ------------------------------
_SHAP_CONV = "purchase"
_SHAP_CHANNELS = ["click", "error", "signup", "view"]  # sorted; idx = pos


def _shap_consts():
    import math

    n = len(_SHAP_CHANNELS)
    spine = [(c, i, 1 << i) for i, c in enumerate(_SHAP_CHANNELS)]
    weights = [(s, math.factorial(s) * math.factorial(n - 1 - s))
               for s in range(n)]
    return n, spine, weights, math.factorial(n), 1 << n


def _shap_oracle() -> str:
    n, spine, weights, nfact, ns = _shap_consts()
    sp = ", ".join(f"('{c}', {i}, {b})" for c, i, b in spine)
    wt = ", ".join(f"({s}, {w})" for s, w in weights)
    return f"""
    WITH ch(channel, idx, bit) AS (VALUES {sp}),
    wt(sz, w) AS (VALUES {wt}),
    conv AS (
      SELECT user_id, min(ts) AS fp_ts FROM events
      WHERE event_type = '{_SHAP_CONV}' GROUP BY user_id),
    touched AS (
      SELECT DISTINCT e.user_id, c.bit
      FROM events e JOIN conv v ON v.user_id = e.user_id
      JOIN ch c ON c.channel = e.event_type
      WHERE e.ts < v.fp_ts),
    masks AS (
      SELECT v.user_id,
             CAST(coalesce(t.m, 0) AS BIGINT) AS m
      FROM conv v LEFT JOIN (
        SELECT user_id, CAST(sum(bit) AS BIGINT) AS m
        FROM touched GROUP BY user_id) t ON t.user_id = v.user_id),
    cnt AS (SELECT m, CAST(count(*) AS BIGINT) AS c FROM masks GROUP BY m),
    subs AS (SELECT unnest(range(0, {ns})) AS sm),
    v AS (
      SELECT s.sm, CAST(coalesce(sum(c.c), 0) AS BIGINT) AS val
      FROM subs s LEFT JOIN cnt c ON (c.m & s.sm) = c.m
      GROUP BY s.sm),
    phi AS (
      SELECT h.channel,
             CAST(sum(w.w * (v1.val - v0.val)) AS BIGINT) AS phi_num
      FROM ch h
      JOIN subs s ON (s.sm & h.bit) = 0
      JOIN wt w ON w.sz = bit_count(CAST(s.sm AS BIT))
      JOIN v v0 ON v0.sm = s.sm
      JOIN v v1 ON v1.sm = s.sm + h.bit
      GROUP BY h.channel)
    SELECT channel, phi_num,
           round(phi_num / {nfact}.0, 6) + 0.0 AS phi
    FROM phi
    """


@register("q_shapley_attribution", _shap_oracle())
def q_shapley_attribution(spark, sf_dir):
    """EXACT Shapley-value attribution of conversions to touch channels
    — the game-theoretic gold standard last/first-touch heuristics
    approximate.  Coalition value v(S) = #converting users whose
    pre-conversion touched-channel set is within S (monotone by
    construction); with #channels = 4 the 2^4 coalition lattice is an
    enumerable spine, and phi_c * n! = sum over subsets of
    |S|!(n-1-|S|)! * [v(S+c) - v(S)] is pure BIGINT arithmetic with
    factorial weights entering as shared literals.  Scale: the corpus
    collapses to per-user touch masks in one distinct+sum agg; every
    frame after ``cnt`` is 2^n-bounded."""
    n, spine, weights, nfact, ns = _shap_consts()
    ch = F.broadcast(spark.createDataFrame(
        spine, "channel string, idx int, bit long"))
    wt = F.broadcast(spark.createDataFrame(weights, "sz int, w long"))
    ev = load(spark, sf_dir, "events")
    conv = (ev.filter(F.col("event_type") == _SHAP_CONV)
            .groupBy("user_id").agg(F.min("ts").alias("fp_ts")))
    touched = (
        ev.join(conv, "user_id")
        .join(ch, ev["event_type"] == ch["channel"])
        .filter(F.col("ts") < F.col("fp_ts"))
        .select("user_id", "bit").distinct()
    )
    masks = (
        conv.join(touched.groupBy("user_id")
                  .agg(F.sum("bit").cast("long").alias("m")),
                  "user_id", "left")
        .select("user_id", F.coalesce("m", F.lit(0)).cast("long").alias("m"))
    )
    cnt = masks.groupBy("m").agg(F.count("*").cast("long").alias("c"))
    subs = spark.range(0, ns).select(F.col("id").cast("long").alias("sm"))
    v = (
        subs.join(F.broadcast(cnt),
                  F.col("m").bitwiseAND(F.col("sm")) == F.col("m"), "left")
        .groupBy("sm")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("val"))
    )
    from nonconsumptive_spark.plans.checkpoint import materialize_once
    v = materialize_once(v, "shap_v")  # joined twice below
    v0 = v.select(F.col("sm").alias("sm0"), F.col("val").alias("val0"))
    v1 = v.select(F.col("sm").alias("sm1"), F.col("val").alias("val1"))
    phi = (
        ch.join(F.broadcast(subs),
                F.col("sm").bitwiseAND(F.col("bit")) == 0)
        .join(F.broadcast(wt), F.bit_count("sm") == F.col("sz"))
        .join(F.broadcast(v0), F.col("sm0") == F.col("sm"))
        .join(F.broadcast(v1), F.col("sm1") == F.col("sm") + F.col("bit"))
        .groupBy("channel")
        .agg(F.sum(F.col("w") * (F.col("val1") - F.col("val0")))
             .cast("long").alias("phi_num"))
    )
    return phi.select(
        "channel", "phi_num",
        (F.round(F.col("phi_num") / F.lit(float(nfact)), 6)
         + F.lit(0.0)).alias("phi"),
    )


# -- expected steps to conversion (absorbing Markov chain) -------------------
_ABS_TARGET = "purchase"
_ABS_ROUNDS = 8
_ABS_Q = 10**9


def _absorb_oracle() -> str:
    rounds = []
    prev = "v0"
    for t in range(1, _ABS_ROUNDS + 1):
        rounds.append(f"""
    v{t} AS MATERIALIZED (
      SELECT t.s,
             1.0 + CAST(sum(CAST(floor({_ABS_Q}.0
                      * ((CAST(t.c AS DOUBLE) / t.n_s)
                         * coalesce(p.v, 0.0))) AS BIGINT)) AS BIGINT)
                   / {_ABS_Q}.0 AS v
      FROM trn t LEFT JOIN {prev} p ON p.s = t.s2
      GROUP BY t.s)""")
        prev = f"v{t}"
    return f"""
    WITH ordered AS (
      SELECT user_id, event_type AS t1,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS t2
      FROM events),
    tr AS MATERIALIZED (
      SELECT t1 AS s, t2 AS s2, CAST(count(*) AS BIGINT) AS c
      FROM ordered
      WHERE t2 IS NOT NULL AND t1 <> '{_ABS_TARGET}'
      GROUP BY 1, 2),
    ns AS MATERIALIZED (
      SELECT s, CAST(sum(c) AS BIGINT) AS n_s FROM tr GROUP BY s),
    trn AS MATERIALIZED (
      SELECT t.s, t.s2, t.c, n.n_s FROM tr t JOIN ns n ON n.s = t.s),
    v0 AS (SELECT s, 0.0 AS v FROM ns),{','.join(rounds)}
    SELECT n.s AS state, n.n_s AS n_out,
           round(coalesce(pd.c, 0) / CAST(n.n_s AS DOUBLE), 6) + 0.0
             AS p_direct,
           round(vf.v, 6) + 0.0 AS exp_steps
    FROM ns n
    JOIN {prev} vf ON vf.s = n.s
    LEFT JOIN (SELECT s, c FROM tr WHERE s2 = '{_ABS_TARGET}') pd
      ON pd.s = n.s
    """


@register("q_markov_absorption", _absorb_oracle())
def q_markov_absorption(spark, sf_dir):
    """Expected steps to 'purchase' (_ABS_TARGET) from each event-type
    state under the empirical Markov chain (value iteration v <- 1 + P v,
    _ABS_ROUNDS=8 unrolled rounds, purchase absorbing at 0) — the
    funnel-depth read q_markov_stationary's long-run mix can't give: HOW
    FAR each state sits from conversion, conditional on chains that
    continue.  Each round's expectation terms floor-quantize to 1e-9
    BIGINTs before the per-state sum, so the fixpoint replays
    bit-identically; all frames after the transition agg are
    #states-bounded with a lineage cut per round."""
    from pyspark.sql import Window

    from nonconsumptive_spark.plans.checkpoint import materialize_once

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select("user_id", F.col("event_type").alias("t1"),
                        F.lead("event_type").over(w).alias("t2"))
    tr = (ordered.filter(F.col("t2").isNotNull()
                         & (F.col("t1") != _ABS_TARGET))
          .groupBy(F.col("t1").alias("s"), F.col("t2").alias("s2"))
          .agg(F.count("*").cast("long").alias("c")))
    tr = materialize_once(tr, "abs_tr")  # feeds ns, trn AND p_direct
    ns = tr.groupBy("s").agg(F.sum("c").cast("long").alias("n_s"))
    ns = materialize_once(ns, "abs_ns")
    trn = materialize_once(tr.join(ns, "s"), "abs_trn")
    v = ns.select("s", F.lit(0.0).alias("v"))
    for t in range(_ABS_ROUNDS):
        pv = v.select(F.col("s").alias("ps"), F.col("v").alias("pv"))
        v = (
            trn.join(F.broadcast(pv), trn["s2"] == pv["ps"], "left")
            .groupBy("s")
            .agg((F.lit(1.0) + F.sum(
                F.floor(F.lit(float(_ABS_Q))
                        * ((F.col("c").cast("double") / F.col("n_s"))
                           * F.coalesce(F.col("pv"), F.lit(0.0))))
                .cast("long")).cast("long") / F.lit(float(_ABS_Q)))
                .alias("v"))
        )
        v = materialize_once(v, f"abs_v{t}")
    pd = tr.filter(F.col("s2") == _ABS_TARGET).select("s", "c")
    return (
        ns.join(v, "s")
        .join(F.broadcast(pd), "s", "left")
        .select(
            F.col("s").alias("state"),
            F.col("n_s").alias("n_out"),
            (F.round(F.coalesce("c", F.lit(0))
                     / F.col("n_s").cast("double"), 6)
             + F.lit(0.0)).alias("p_direct"),
            (F.round(F.col("v"), 6) + F.lit(0.0)).alias("exp_steps"),
        )
    )


# -- LEFT OUTER watermark stream-stream join, batch/registry form ------------
@register(
    "q_click_attribution_outer",
    """
    WITH clicks AS (
      SELECT user_id AS c_user, ts AS click_ts, event_id AS click_id
      FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id AS p_user, ts AS purchase_ts,
             event_id AS purchase_id, value AS amount
      FROM events WHERE event_type = 'purchase')
    SELECT c.c_user AS user_id,
           c.click_id,
           strftime(c.click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           p.purchase_id,
           strftime(p.purchase_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           round(p.amount, 2) AS amount
    FROM clicks c
    LEFT JOIN purchases p
      ON c.c_user = p.p_user
     AND c.click_ts <= p.purchase_ts
     AND p.purchase_ts <= c.click_ts + INTERVAL '1 hour'
    """,
)
def q_click_attribution_outer(spark, sf_dir):
    """LEFT OUTER event-time-bounded attribution: EVERY click emits — with
    its same-user purchases in (click_ts, click_ts + 1h] when they exist,
    with NULL purchase columns when none do.  The batch/registry face of
    the watermarked LEFT OUTER stream-stream join
    (streaming/joins.py:click_purchase_attribution_outer, r7-staged,
    pinned by tests/test_streaming.py — unmatched clicks only NULL-emit
    once the global watermark passes their match horizon; in batch the
    watermark is a no-op, so this exact function is its own oracle).
    Plan: both sides shuffle once on user_id, per-key range predicate
    evaluated inside the join — state/memory is O(events in the 1h+
    watermark horizon) streaming, plain SortMergeJoin batch; no global
    structure, safe at 100x."""
    from nonconsumptive_spark.streaming.joins import (
        click_purchase_attribution_outer,
    )

    joined = click_purchase_attribution_outer(
        load(spark, sf_dir, "events"), within="1 hour")
    return joined.select(
        "user_id", "click_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "purchase_id",
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss")
        .alias("purchase_ts"),
        F.round("amount", 2).alias("amount"),
    )
