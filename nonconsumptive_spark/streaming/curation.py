"""Streaming curation gate: the stateless curation stages running over a
document stream, with contamination checked by a stream-static join
against a precomputed eval-shingle table.

The production shape: the eval-set shingles are a SMALL STATIC table
(rebuilt when benchmarks change, not per batch); the stream side is the
crawl.  Quality rules and split assignment are pure row expressions, so
they stream unchanged; the contamination check is a stream-static left
join Spark supports natively (no watermark needed — the static side
never ticks).

Streams cannot self-join, so the gate is ONE pass: every per-row verdict
(quality, split) rides along the exploded shingle rows into the
contamination aggregation instead of being computed on a second branch
and joined back — that constraint is why the verdict logic is exposed as
bare Column expressions (textstats.quality_keep_expr / split_expr)
rather than only as DataFrame operators.  Dedup keeper election is
inherently cross-batch state and stays with the neardup/upsert machinery
(streaming/neardup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nonconsumptive_spark.operators.dedup import doc_shingles, shingle_array
from nonconsumptive_spark.functions.text import tokenize
from nonconsumptive_spark.operators.textstats import quality_keep_expr, split_expr


def eval_shingle_table(eval_docs: DataFrame) -> DataFrame:
    """The static side: distinct eval shingles (tiny; broadcastable)."""
    return (
        doc_shingles(eval_docs)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )


def curation_gate(stream: DataFrame, eval_shingles: DataFrame,
                  overlap_threshold: int = 5,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, quality_keep, contaminated, split) per streamed document.

    One projection computes every row verdict plus the (distinct) shingle
    array; explode_outer keeps shingle-less docs alive; the stream-static
    LEFT join marks eval hits; one id-keyed aggregation counts them.
    Shingles are distinct within a doc by construction and the static
    side is distinct, so a plain conditional count equals the distinct
    overlap count — no streaming-unsupported count(DISTINCT) needed."""
    base = stream.select(
        id_col,
        quality_keep_expr(text_col).alias("quality_keep"),
        split_expr(id_col).alias("split"),
        shingle_array(tokenize(text_col)).alias("shingles"),
    )
    exploded = base.select(
        id_col, "quality_keep", "split",
        F.explode_outer("shingles").alias("shingle"),
    )
    hits = exploded.join(
        F.broadcast(eval_shingles.withColumn("__hit", F.lit(1))),
        "shingle", "left",
    )
    return (
        hits.groupBy(id_col, "quality_keep", "split")
        .agg(F.count("__hit").alias("n_overlap"))
        .select(
            id_col, "quality_keep",
            (F.col("n_overlap") >= overlap_threshold).alias("contaminated"),
            "split",
        )
    )
