"""Scalar-function and provenance queries (SURVEY §2.8 F6-F13, §2.5 W2/W4,
plus the approximate-aggregation, sketch and SRP surfaces).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nonconsumptive_spark.plans.checkpoint import materialize_once
from nonconsumptive_spark.queries import _DUCK_TOKS, load, register


# --------------------------------------------------------------------------
@register(
    "q_regex_extract_cast",
    oracle="""
    SELECT CAST(regexp_extract(o_orderpriority, '([0-9]+)', 1) AS SMALLINT) AS prio_num,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY 1
    """,
    doc="F6/F9: regex capture-group extraction + narrow integer cast (the "
        "reference's year-extraction idiom, catalog.py:495-504).",
)
def q_regex_extract_cast(spark, sf_dir):
    return (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.regexp_extract("o_orderpriority", r"([0-9]+)", 1)
            .cast("smallint")
            .alias("prio_num")
        )
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
@register(
    "q_cast_ladder_roundtrip",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_match,
           CAST(count(CASE WHEN parsed IS NULL THEN 1 END) AS BIGINT) AS n_null
    FROM (
      SELECT c_custkey,
             TRY_CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT) AS parsed
      FROM customer)
    WHERE parsed = c_custkey OR parsed IS NULL
    """,
    doc="F9/F10: try_cast ladder — numeric id recovered from its string form "
        "must round-trip; non-numeric suffixes null out (never error).",
)
def q_cast_ladder_roundtrip(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    parsed = F.expr("try_cast(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT)")
    return (
        c.select("c_custkey", parsed.alias("parsed"))
        .filter((F.col("parsed") == F.col("c_custkey")) | F.col("parsed").isNull())
        .agg(
            F.count("*").alias("n_match"),
            F.count(F.when(F.col("parsed").isNull(), 1)).alias("n_null"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "q_id_resolution",
    oracle="""
    WITH ids AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS nc_id
      FROM documents)
    SELECT d.doc_id, i.nc_id, d.n_chars
    FROM documents d JOIN ids i ON d.doc_id = i.doc_id
    """,
    doc="J2/W2: @id → dense nc:id resolution then equi-join (reference "
        "data_storage.py:64, catalog.py:286-288).  Uses the distributed "
        "per-partition-offset assignment (readers.assign_dense_ids), not a "
        "global row_number window — no row passes through one reducer.",
)
def q_id_resolution(spark, sf_dir):
    from nonconsumptive_spark.sources.readers import assign_dense_ids

    docs = load(spark, sf_dir, "documents")
    ids = assign_dense_ids(docs.select("doc_id"), ["doc_id"], id_name="nc_id")
    return docs.join(ids, "doc_id").select("doc_id", "nc_id", "n_chars")


# --------------------------------------------------------------------------
@register(
    "q_posexplode_provenance",
    oracle=f"""
    SELECT doc_id, CAST(pos AS INTEGER) AS pos, token
    FROM (
      SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
             unnest({_DUCK_TOKS}) AS token
      FROM documents)
    WHERE doc_id < 5
    """,
    doc="F11/F12/J4: posexplode keeps row provenance — the positional zip "
        "join (J4) and the reference's value_parent_indices reconstruction "
        "(transformations.py:360, data_storage.py:276-296) collapse into "
        "carrying the id through the explode.",
)
def q_posexplode_provenance(spark, sf_dir):
    from nonconsumptive_spark.functions.text import tokens_with_pos

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 5)
    return tokens_with_pos(docs, "doc_id", "text").select("doc_id", "pos", "token")


# --------------------------------------------------------------------------
@register(
    "q_struct_roundtrip",
    oracle=f"""
    SELECT doc_id, n_tokens, first_token
    FROM (
      SELECT doc_id,
             CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens,
             {_DUCK_TOKS}[1] AS first_token
      FROM (SELECT doc_id, coalesce(text, '') AS text
            FROM documents) documents)
    """,
    doc="F13: struct assembly + disassembly (struct(...) then s.*) — output "
        "equals computing the fields directly.",
)
def q_struct_roundtrip(spark, sf_dir):
    from nonconsumptive_spark.functions.text import tokenize

    docs = load(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))  # NULL text = empty
    s = F.struct(
        F.size(tokenize(t)).cast("long").alias("n_tokens"),
        F.element_at(tokenize(t), 1).alias("first_token"),
    )
    return docs.select("doc_id", s.alias("s")).select("doc_id", "s.*")


# --------------------------------------------------------------------------
@register(
    "q_markov_transitions",
    oracle=f"""
    WITH tokpos AS (
      SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
             unnest({_DUCK_TOKS}) AS token
      FROM documents),
    bigrams AS (
      SELECT w0, w1, count(*) AS count FROM (
        SELECT doc_id, token AS w0,
               lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        FROM tokpos) z
      WHERE w1 IS NOT NULL
      GROUP BY w0, w1)
    SELECT w0, w1, CAST(count AS BIGINT) AS count,
           round(count * 1.0 / sum(count) OVER (PARTITION BY w0), 4) AS prob
    FROM bigrams
    """,
    doc="W4 substrate: Markov transition table (conditional next-token "
        "distribution) — the sampling draw itself is seeded and rows-only.",
)
def q_markov_transitions(spark, sf_dir):
    from nonconsumptive_spark.operators.markov import transition_table
    from nonconsumptive_spark.operators.wordcount import ngram_counts

    docs = load(spark, sf_dir, "documents")
    tt = transition_table(ngram_counts(docs, 2))
    return tt.select("w0", "w1", "count", F.round("prob", 4).alias("prob"))


# --------------------------------------------------------------------------
@register(
    "q_approx_distinct",
    oracle="""
    SELECT TRUE AS parts_in_bounds, TRUE AS orders_in_bounds,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts_exact,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders_exact
    FROM lineitem
    """,
    doc="A3/A5 approximate mode: approx_count_distinct (HLL, rsd=0.02) — the "
        "opt-in scale path replacing the reference's count-min sketch.  The "
        "HLL estimate is engine-specific, so the oracle checks the sketch "
        "lands within ±10% of the exact cardinality (TRUE on both sides) and "
        "hash-matches the exact counts themselves.",
)
def q_approx_distinct(spark, sf_dir):
    agg = load(spark, sf_dir, "lineitem").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("ap"),
        F.countDistinct("l_partkey").alias("ep"),
        F.approx_count_distinct("l_orderkey", 0.02).alias("ao"),
        F.countDistinct("l_orderkey").alias("eo"),
    )
    return agg.select(
        F.col("ap").between(0.9 * F.col("ep"), 1.1 * F.col("ep"))
        .alias("parts_in_bounds"),
        F.col("ao").between(0.9 * F.col("eo"), 1.1 * F.col("eo"))
        .alias("orders_in_bounds"),
        F.col("ep").alias("n_parts_exact"),
        F.col("eo").alias("n_orders_exact"),
    )


# --------------------------------------------------------------------------
@register(
    "q_srp_stats",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN len({_DUCK_TOKS}) > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nonzero_norm,
           CAST(count(*) AS BIGINT) AS n_bits_match
    FROM (SELECT doc_id, coalesce(text, '') AS text
          FROM documents) documents
    """,
    doc="F15/F16 invariants: the SRP values come from a Python-side seeded "
        "RNG (not SQL-recomputable), but their invariants are — every doc "
        "with AT LEAST ONE TOKEN embeds to a nonzero-norm vector (token-"
        "less docs — NULL/empty/whitespace text — embed to the zero "
        "vector by construction), and the sign bit-pack (F16) must "
        "satisfy bit_count(packed bytes) == count of positive floats for "
        "every row.",
)
def q_srp_stats(spark, sf_dir):
    from nonconsumptive_spark.functions.embeddings import srp_bits, srp_embed_arrow

    docs = load(spark, sf_dir, "documents")
    emb = srp_bits(srp_embed_arrow(docs, dim=128), keep_vec=True)
    norm_sq = F.aggregate(
        F.transform("srp", lambda x: x.cast("double") * x),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    pos_floats = F.size(F.filter("srp", lambda x: x > 0))
    return emb.agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(norm_sq > 0, 1)).alias("n_nonzero_norm"),
        F.count(
            F.when(F.bitmap_count("srp_bits") == pos_floats, 1)
        ).alias("n_bits_match"),
    )


# --------------------------------------------------------------------------
@register(
    "q_srp_hamming",
    oracle="""
    WITH n AS (SELECT count(*) AS c FROM documents WHERE doc_id < 20)
    SELECT CAST(c * (c - 1) / 2 AS BIGINT) AS n_pairs,
           CAST(c * (c - 1) / 2 AS BIGINT) AS n_consistent,
           TRUE AS all_bounded
    FROM n
    """,
    doc="F15→F16→F17 chain (the reference's flagship notebook workflow, "
        "examples/Ngrams.ipynb): SRP embed → sign-bit pack to binary → "
        "pairwise Hamming over the packed bytes, XOR+popcount fully "
        "JVM-side, first-20 docs (i<j).  The SRP values are a seeded RNG, "
        "but the Hamming INVARIANT is checkable: for every pair, "
        "bit_count(bits_a XOR bits_b) must equal the count of dimensions "
        "where the float vectors disagree in sign, and never exceed the "
        "dimension.  Both counts must equal C(n,2), which DuckDB "
        "recomputes from the table.",
)
def q_srp_hamming(spark, sf_dir):
    from nonconsumptive_spark.functions.embeddings import (
        hamming_binary,
        srp_bits,
        srp_embed_arrow,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    emb = materialize_once(
        srp_bits(srp_embed_arrow(docs, dim=128), keep_vec=True), "srp_bits"
    )
    a = emb.select(
        F.col("doc_id").alias("doc_a"),
        F.col("srp").alias("va"), F.col("srp_bits").alias("ba"),
    )
    b = emb.select(
        F.col("doc_id").alias("doc_b"),
        F.col("srp").alias("vb"), F.col("srp_bits").alias("bb"),
    )
    pairs = a.crossJoin(b).filter(F.col("doc_a") < F.col("doc_b"))
    ham = hamming_binary(F.col("ba"), F.col("bb"))
    sign_diff = F.size(
        F.filter(
            F.zip_with("va", "vb", lambda x, y: (x > 0) != (y > 0)),
            lambda d: d,
        )
    )
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.count(F.when(ham == sign_diff, 1)).alias("n_consistent"),
        F.every(ham <= 128).alias("all_bounded"),
    )


# --------------------------------------------------------------------------
@register(
    "q_approx_quantiles",
    oracle="""
    SELECT TRUE AS p50_in_bounds, TRUE AS p95_in_bounds,
           round(CAST(quantile_cont(o_totalprice, 0.50) AS DOUBLE), 3) AS p50_exact,
           round(CAST(quantile_cont(o_totalprice, 0.95) AS DOUBLE), 3) AS p95_exact
    FROM orders
    """,
    doc="A6 approximate mode: percentile_approx (Greenwald-Khanna sketch, "
        "accuracy 100) — the scale path where exact interpolated "
        "percentiles would buffer every value per group.  The sketch value "
        "is engine-specific, so the oracle asserts the honest GK guarantee "
        "— the sketch's RANK error is bounded, i.e. the returned value lies "
        "between the exact DISCRETE percentiles at p±0.03 (ε=1/accuracy "
        "plus margin) — and hash-matches the exact interpolated values "
        "themselves.  A relative ±5%% VALUE bound would be wrong: on small "
        "or skewed data the nearest data value can sit far from the "
        "interpolated quantile, and a negative median flips the bounds.",
)
def q_approx_quantiles(spark, sf_dir):
    agg = load(spark, sf_dir, "orders").agg(
        F.expr("percentile_approx(o_totalprice, 0.50, 100)").alias("a50"),
        F.expr("percentile(o_totalprice, 0.50)").alias("e50"),
        F.expr("percentile_approx(o_totalprice, 0.95, 100)").alias("a95"),
        F.expr("percentile(o_totalprice, 0.95)").alias("e95"),
        F.expr("percentile_disc(0.47) WITHIN GROUP (ORDER BY o_totalprice)")
        .alias("lo50"),
        F.expr("percentile_disc(0.53) WITHIN GROUP (ORDER BY o_totalprice)")
        .alias("hi50"),
        F.expr("percentile_disc(0.92) WITHIN GROUP (ORDER BY o_totalprice)")
        .alias("lo95"),
        F.expr("percentile_disc(0.98) WITHIN GROUP (ORDER BY o_totalprice)")
        .alias("hi95"),
    )
    return agg.select(
        F.col("a50").between(F.col("lo50"), F.col("hi50"))
        .alias("p50_in_bounds"),
        F.col("a95").between(F.col("lo95"), F.col("hi95"))
        .alias("p95_in_bounds"),
        F.round("e50", 3).alias("p50_exact"),
        F.round("e95", 3).alias("p95_exact"),
    )


# --------------------------------------------------------------------------
_Z_BITS = 8
_Z_MASK = (1 << _Z_BITS) - 1  # interpolated into BOTH sides (drift trap)


@register(
    "q_zorder_curve",
    oracle=f"""
    WITH q AS (
      SELECT event_id,
             user_id & {_Z_MASK} AS xq,
             CAST(floor(value) AS BIGINT) % {_Z_MASK + 1} AS yq
      FROM events)
    SELECT event_id,
           CAST(list_sum(list_transform(range(0, {_Z_BITS}),
                i -> (((xq >> i) & 1) << (2 * i))
                   + (((yq >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS z
    FROM q
    """,
    doc=f"Morton (Z-order) curve value over quantized (user_id, value) — "
        "the layout key behind multi-dimensional file pruning "
        "(sources/layout.py: OPTIMIZE-ZORDER-style writes; a range "
        "predicate on EITHER dimension maps to bounded Z-ranges, so "
        "parquet min/max footers skip files for 2-D box queries, where a "
        "single sort key only ever prunes one dimension).  The code is a "
        f"flat unrolled {_Z_BITS}-bit shift/mask sum — no UDF, no HOF "
        "lambda (those evaluate interpreted), zero shuffle, whole-stage "
        "codegen.",
)
def q_zorder_curve(spark, sf_dir):
    from nonconsumptive_spark.sources.layout import interleave_bits

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").bitwiseAND(F.lit(_Z_MASK)).alias("xq"),
        (F.floor("value").cast("long") % (_Z_MASK + 1)).alias("yq"),
    )
    return ev.select("event_id", interleave_bits("xq", "yq", _Z_BITS).alias("z"))


# -- AMS F2 sketch -----------------------------------------------------------
def _ams_oracle() -> str:
    from nonconsumptive_spark.operators.wordcount import AMS_R

    xs = ", ".join(
        f"CAST(sum(c * (((h >> {r}) & 1) * 2 - 1)) AS BIGINT) AS x{r}"
        for r in range(AMS_R))
    sumsq = " + ".join(f"x{r} * x{r}" for r in range(AMS_R))
    return f"""
    WITH counts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest({_DUCK_TOKS}) AS token FROM documents)
      GROUP BY token),
    sgn AS (
      SELECT c, CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h
      FROM counts),
    agg AS (
      SELECT CAST(sum(c * c) AS BIGINT) AS f2, {xs}
      FROM sgn)
    SELECT f2 AS f2_exact,
           round(CAST(({sumsq}) AS DOUBLE) / {AMS_R}, 4) + 0.0 AS f2_est,
           round(abs(CAST(({sumsq}) - {AMS_R} * f2 AS DOUBLE))
                 / (CAST({AMS_R} AS DOUBLE) * f2), 6) + 0.0 AS rel_err
    FROM agg
    """


@register("q_ams_f2", _ams_oracle(),
          doc="AMS second-moment sketch vs the exact F2 (operators/"
              "wordcount.ams_f2): R sign-sums in one agg, abs rel_err.")
def q_ams_f2(spark, sf_dir):
    from nonconsumptive_spark.operators.wordcount import ams_f2

    return ams_f2(load(spark, sf_dir, "documents"))
