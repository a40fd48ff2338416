"""Multimodal plumbing under the oracle gate.

There is no binary media in the test tables, so each query
synthesizes a deterministic media payload per document (the operators'
own NCIM header format), pushes it through the REAL Arrow-batched
``mapInPandas`` feature extractor (operators/multimodal.py), and the
DuckDB oracle recomputes the expected features from the same
construction — i.e. the Python decode path is checked against SQL, not
against itself.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nonconsumptive_spark.operators import multimodal as mm
from nonconsumptive_spark.queries import load, register


def _synthetic_media(docs):
    """One fake image per document: content = 'NCIM|<w>|<h>|x...x'
    (w,h,payload all derived from catalog columns — no randomness)."""
    payload = F.repeat(F.lit("x"), (F.col("doc_id") % 50).cast("int"))
    header = F.concat_ws(
        "|",
        F.lit("NCIM"),
        (F.col("n_chars") % 1920).cast("string"),
        (F.col("n_chars") % 1080).cast("string"),
        payload,
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("image/x-nc").alias("mime"),
        F.encode(header, "UTF-8").alias("content"),
    )


@register(
    "q_multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           'image' AS kind,
           CAST(strlen('NCIM|' || (n_chars % 1920) || '|' || (n_chars % 1080)
                       || '|' || repeat('x', CAST(doc_id % 50 AS INTEGER))) AS BIGINT) AS n_bytes,
           CAST(n_chars % 1920 AS INTEGER) AS width,
           CAST(n_chars % 1080 AS INTEGER) AS height
    FROM documents
    """,
    doc="Multimodal plumbing end-to-end: binary media column through the "
        "Arrow-batched mapInPandas extractor (stub decode, real schema/"
        "batching/partitioning); oracle recomputes the features from the "
        "deterministic construction.",
)
def q_multimodal_features(spark, sf_dir):
    media = _synthetic_media(load(spark, sf_dir, "documents"))
    return mm.extract_media_features(media).select(
        "media_id", "kind", "n_bytes", "width", "height"
    )


def _synthetic_video(docs):
    """One fake video per document: content = 'NCVID|<frames>|x...x'."""
    payload = F.repeat(F.lit("x"), (F.col("doc_id") % 30).cast("int"))
    header = F.concat_ws(
        "|",
        F.lit("NCVID"),
        ((F.col("n_chars") % 40) + 1).cast("string"),
        payload,
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit("video/x-nc").alias("mime"),
        F.encode(header, "UTF-8").alias("content"),
    )


@register(
    "q_frame_sample",
    oracle="""
    SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx
    FROM documents, unnest(range(0, (n_chars % 40) + 1, 10)) AS r(f)
    """,
    doc="Video frame-sampling plan end-to-end: binary video column through "
        "the mapInPandas metadata extractor (stub decode), then a JVM-side "
        "explode of every 10th frame index — one row per frame a real "
        "pipeline would hand to a per-frame decoder.  Oracle recomputes "
        "the sampled indices from the deterministic construction.",
)
def q_frame_sample(spark, sf_dir):
    media = _synthetic_video(load(spark, sf_dir, "documents"))
    return mm.frame_sample_plan(media, every_n=10)


@register(
    "q_image_resize",
    oracle="""
    WITH dims AS (
      SELECT doc_id AS media_id,
             CAST(n_chars % 1920 AS INTEGER) AS w,
             CAST(n_chars % 1080 AS INTEGER) AS h
      FROM documents
      WHERE (n_chars % 1920) > 0 AND (n_chars % 1080) > 0),
    scaled AS (
      SELECT media_id, w, h,
             least(256.0 / w, 256.0 / h, 1.0) AS s
      FROM dims)
    SELECT media_id,
           w AS src_width, h AS src_height,
           CAST(greatest(floor(w * s), 1) AS INTEGER) AS dst_width,
           CAST(greatest(floor(h * s), 1) AS INTEGER) AS dst_height,
           CAST(floor(100.0 * greatest(floor(w * s), 1) / w + 0.5) AS INTEGER)
             AS scale_pct
    FROM scaled
    """,
    doc="Image resize pass (fit-in-256 preserving aspect, never upscale): "
        "geometry through the real Arrow-batched mapInPandas plumbing "
        "(stubbed pixel resample, same as decode); oracle recomputes "
        "target dims from the deterministic construction.  scale_pct uses "
        "explicit floor(x+0.5) half-up rounding on both engines.",
)
def q_image_resize(spark, sf_dir):
    media = _synthetic_media(load(spark, sf_dir, "documents"))
    return mm.resize_images(media, max_side=256).drop("content")


# -- audio windowed RMS energy over deterministic PCM --------------------------
_AU_FRAME = 64


def _audio_payload_expr() -> str:
    """Spark SQL expression building the synthetic audio content: a
    16-byte header + n int8 PCM samples, every sample an ASCII-safe
    byte 32 + (doc_id*31 + j*7) % 95 so the SAME bytes are expressible
    in both engines (UTF-8 encodes [32,126] one byte each)."""
    n = f"(((n_chars % 4) + 1) * {_AU_FRAME})"
    return (
        "encode(concat('NCAU|16b-header|', array_join(transform("
        f"sequence(0, {n} - 1), "
        "j -> char(32 + pmod(doc_id * 31 + j * 7, 95))), '')), 'UTF-8')"
    )


def _audio_oracle() -> str:
    return f"""
    WITH dims AS (
      SELECT doc_id, ((n_chars % 4) + 1) AS nf FROM documents),
    frames AS (
      SELECT doc_id, CAST(f AS INTEGER) AS frame
      FROM dims, unnest(range(0, nf)) r(f)),
    svals AS (
      SELECT doc_id, frame, CAST(sum(b * b) AS BIGINT) AS s2
      FROM (
        SELECT doc_id, frame,
               32 + (doc_id * 31 + j * 7) % 95 AS b
        FROM frames,
             unnest(range(frame * {_AU_FRAME},
                          frame * {_AU_FRAME} + {_AU_FRAME})) u(j))
      GROUP BY doc_id, frame)
    SELECT doc_id AS media_id, frame,
           CAST({_AU_FRAME} AS INTEGER) AS n_samples,
           CAST(floor(sqrt(CAST(s2 AS DOUBLE) / 16384.0 / {_AU_FRAME})
                      * 10000 + 0.5) AS BIGINT) AS rms_q
    FROM svals
    """


@register("q_audio_window_energy", _audio_oracle())
def q_audio_window_energy(spark, sf_dir):
    """Windowed RMS energy over a deterministic int8-PCM audio column
    (operators/multimodal.audio_window_energy): REAL signal math through
    the Arrow-batched mapInPandas kernel — binary bytes for non-audio
    rows never move.  The synthetic payload keeps every sample in the
    ASCII range so the oracle reconstructs the identical bytes in SQL;
    frames are always full (a multiple of the frame length), which makes
    the mean an exact multiple of 2^-14 regardless of summation order,
    so sqrt + the shared half-up quantization agree bit-for-bit."""
    from nonconsumptive_spark.operators.multimodal import (
        audio_window_energy)

    docs = load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.lit("audio/pcm").alias("mime"),
        F.expr(_audio_payload_expr()).alias("content"),
    )
    return audio_window_energy(media, frame_len=_AU_FRAME)
