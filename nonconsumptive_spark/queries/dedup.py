"""Deduplication queries, oracle-checked end-to-end (exact dedup, MinHash
signatures, LSH candidates, verified near-dup pairs, SimHash + Hamming,
exact n-gram Jaccard, suffix-array repeats), plus the threshold-tuning
tables over near-dup candidates, pair-similarity scores (BLEU, ROUGE)
and fuzzy record linkage (Jaro-Winkler, Fellegi-Sunter).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nonconsumptive_spark.operators import dedup as dd
from nonconsumptive_spark.operators import lines as _lines
from nonconsumptive_spark.queries import _DUCK_TOKS, load, register


# Shared oracle CTEs: tokens with position -> distinct 3-shingles per doc.
_DUCK_SHINGLES = f"""
  WITH tokpos AS (
    SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
           unnest({_DUCK_TOKS}) AS token
    FROM documents),
  shingles AS (
    SELECT DISTINCT doc_id, w0 || ' ' || w1 || ' ' || w2 AS shingle
    FROM (
      SELECT doc_id, token AS w0,
             lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
             lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM tokpos) z
    WHERE w2 IS NOT NULL)
"""

_HASH_PARAMS_VALUES = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(zip(dd.HASH_AS, dd.HASH_BS))
)

_DUCK_MINHASH = f"""
  {_DUCK_SHINGLES},
  hashed AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % {dd.MINHASH_P} AS h
    FROM shingles),
  params(hash_idx, a, b) AS (VALUES {_HASH_PARAMS_VALUES}),
  sig AS (
    SELECT doc_id, hash_idx,
           min((a * h + b) % {dd.MINHASH_P}) AS minhash
    FROM hashed CROSS JOIN params
    GROUP BY doc_id, hash_idx)
"""

_DUCK_BANDS = f"""
  {_DUCK_MINHASH},
  bands AS (
    SELECT doc_id, CAST(hash_idx // {dd.LSH_ROWS} AS INTEGER) AS band,
           string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY hash_idx) AS band_key
    FROM sig
    GROUP BY doc_id, hash_idx // {dd.LSH_ROWS})
"""


# --------------------------------------------------------------------------
@register(
    "q_dedup_exact",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '[^\\pL]+', ' ', 'g'))) AS fingerprint
      FROM documents),
    groups AS (
      SELECT fingerprint, CAST(min(doc_id) AS BIGINT) AS keep_id
      FROM fp GROUP BY fingerprint)
    SELECT f.doc_id, f.fingerprint, g.keep_id, f.doc_id = g.keep_id AS is_keeper
    FROM fp f JOIN groups g ON f.fingerprint = g.fingerprint
    """,
    doc="Exact dedup via normalized-text hash groupBy; keeper = min doc_id "
        "per group.",
)
def q_dedup_exact(spark, sf_dir):
    return dd.exact_dedup(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_minhash_signatures",
    oracle=f"""
    {_DUCK_MINHASH}
    SELECT doc_id, CAST(hash_idx AS INTEGER) AS hash_idx, minhash
    FROM sig
    """,
    doc="k=16 md5-based minhash signatures over distinct 3-shingles — "
        "bit-identical in both engines.",
)
def q_minhash_signatures(spark, sf_dir):
    return dd.minhash_signatures(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_lsh_candidates",
    oracle=f"""
    {_DUCK_BANDS}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """,
    doc="LSH banding (4 bands × 4 rows): candidate pairs sharing ≥1 band.",
)
def q_lsh_candidates(spark, sf_dir):
    return dd.lsh_candidate_pairs(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_minhash_dedup_pairs",
    oracle=f"""
    {_DUCK_BANDS},
    cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS i
      FROM cands c
      JOIN shingles x ON x.doc_id = c.doc_a
      JOIN shingles y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b,
           round(i.i * 1.0 / (sa.n + sb.n - i.i), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE round(i.i * 1.0 / (sa.n + sb.n - i.i), 4) >= 0.5
    """,
    doc="Full LSH near-dup pipeline: banded candidates verified with exact "
        "Jaccard ≥ 0.5 (threshold compares the ROUNDED jaccard on both "
        "engines — Spark filters round(j,4), so an unrounded oracle filter "
        "would diverge for j in [0.49995, 0.5)).",
)
def q_minhash_dedup_pairs(spark, sf_dir):
    """Eager at plan time by design: ``verify_pairs``' checkpoint barrier
    runs the signature and band-join stages when the frame is built."""
    return dd.minhash_dedup_pairs(load(spark, sf_dir, "documents"), threshold=0.5)


# --------------------------------------------------------------------------
# Shared connected-components CTE chain (recursive reach needs WITH
# RECURSIVE on the whole CTE list) — ends at comp(id, cluster).
_DUCK_COMP = _DUCK_BANDS.replace("WITH", "WITH RECURSIVE", 1) + """,
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS i
      FROM cands c
      JOIN shingles x ON x.doc_id = c.doc_a
      JOIN shingles y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      GROUP BY c.doc_a, c.doc_b),
    pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE round(i.i * 1.0 / (sa.n + sb.n - i.i), 4) >= 0.5),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT src AS id, src AS r FROM edges
      UNION
      SELECT e.src, rr.r FROM edges e JOIN reach rr ON e.dst = rr.id),
    comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)"""


@register(
    "q_dedup_clusters",
    oracle=_DUCK_COMP + """
    SELECT d.doc_id,
           CAST(coalesce(c.cluster, d.doc_id) AS BIGINT) AS cluster,
           coalesce(c.cluster, d.doc_id) = d.doc_id AS is_keeper
    FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    """,
    doc="Near-dup CLUSTER assignment: connected components over the "
        "verified LSH pair graph, cluster id = component minimum, keeper "
        "flag for drop-all-but-one — iterative min-label propagation in "
        "Spark (joins on ids only, lineage truncated per round) checked "
        "against DuckDB's recursive-CTE transitive closure.",
)
def q_dedup_clusters(spark, sf_dir):
    return dd.dedup_clusters(load(spark, sf_dir, "documents"), threshold=0.5)


# --------------------------------------------------------------------------
@register(
    "q_canonical_docs",
    oracle=_DUCK_COMP + f""",
    asg AS (
      SELECT d.doc_id,
             coalesce(c.cluster, d.doc_id) AS cluster,
             len(coalesce({_DUCK_TOKS}, [])) AS n_tokens
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
    SELECT doc_id, CAST(cluster AS BIGINT) AS cluster,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           row_number() OVER (PARTITION BY cluster
                              ORDER BY n_tokens DESC, doc_id) = 1 AS canonical
    FROM asg
    """,
    doc="Curation keeper selection: within each near-dup cluster keep the "
        "LONGEST member (token count, id tie-break) instead of the min-id "
        "one — the 'near-dups are truncations of one master copy' rule.  "
        "One cluster-keyed row_number window over the CC output; cluster "
        "sizes are bounded by construction, so no window partition grows "
        "with the corpus.",
)
def q_canonical_docs(spark, sf_dir):
    return dd.canonical_docs(load(spark, sf_dir, "documents"), threshold=0.5)


# Exact all-pairs 3-gram Jaccard >= 0.5: one oracle for the naive shingle
# join and PPJoin's prefix-filtered form, which must return the same set.
_DUCK_JACCARD_PAIRS = f"""
    {_DUCK_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(i * 1.0 / (sa.n + sb.n - i), 4) >= 0.5
    """


# --------------------------------------------------------------------------
@register(
    "q_ngram_jaccard_pairs",
    oracle=_DUCK_JACCARD_PAIRS,
    doc="Exact all-pairs 3-gram Jaccard ≥ 0.5 via shingle equi-join (the "
        "ground truth the LSH path approximates).",
)
def q_ngram_jaccard_pairs(spark, sf_dir):
    return dd.jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.5)


# --------------------------------------------------------------------------
@register(
    "q_simhash",
    oracle=f"""
    WITH counts AS (
      SELECT doc_id, token, count(*) AS cnt
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents)
      GROUP BY doc_id, token),
    hashed AS (
      SELECT doc_id, cnt,
             CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h
      FROM counts),
    bits AS (
      SELECT doc_id, j.j,
             sum(cnt * (((h >> j.j) & 1) * 2 - 1)) AS s
      FROM hashed CROSS JOIN (SELECT unnest(range(60)) AS j) j
      GROUP BY doc_id, j.j)
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits
    GROUP BY doc_id
    """,
    doc="60-bit SimHash from md5 token hashes weighted by count.",
)
def q_simhash(spark, sf_dir):
    return dd.simhash(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_simhash_near_pairs",
    oracle=f"""
    WITH counts AS (
      SELECT doc_id, token, count(*) AS cnt
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents)
      GROUP BY doc_id, token),
    hashed AS (
      SELECT doc_id, cnt,
             CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h
      FROM counts),
    bits AS (
      SELECT doc_id, j.j,
             sum(cnt * (((h >> j.j) & 1) * 2 - 1)) AS s
      FROM hashed CROSS JOIN (SELECT unnest(range(60)) AS j) j
      GROUP BY doc_id, j.j),
    sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
    """,
    doc="SimHash near-dup pairs at Hamming ≤ 8 (F17: xor + popcount).",
)
def q_simhash_near_pairs(spark, sf_dir):
    return dd.simhash_near_pairs(load(spark, sf_dir, "documents"), max_hamming=8)


# --------------------------------------------------------------------------
_SPAN_TOKS = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"


@register(
    "q_remove_repeated_spans",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, generate_subscripts({_SPAN_TOKS}, 1) AS pos,
             unnest({_SPAN_TOKS}) AS token
      FROM documents),
    grams AS (
      SELECT doc_id, pos AS start,
             token || ' ' || lead(token, 1) OVER w || ' ' || lead(token, 2) OVER w
                   || ' ' || lead(token, 3) OVER w || ' ' || lead(token, 4) OVER w AS gram
      FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    occ AS (SELECT doc_id, start, gram FROM grams WHERE gram IS NOT NULL),
    flagged AS (
      SELECT gram FROM occ GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
    covered AS (
      SELECT DISTINCT o.doc_id, unnest(generate_series(o.start, o.start + 4)) AS pos
      FROM occ o JOIN flagged f USING (gram)),
    kept AS (
      SELECT t.doc_id, t.pos, t.token
      FROM tok t ANTI JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos),
    rebuilt AS (
      SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(len({_SPAN_TOKS}), 0) - coalesce(r.n_kept, 0) AS BIGINT) AS n_tokens_removed,
           coalesce(r.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN rebuilt r USING (doc_id)
    """,
    doc="Exact repeated-span removal (substring-level dedup): 5-token "
        "spans occurring in ≥2 distinct docs are flagged, every token they "
        "cover is stripped, and the survivors re-join on single spaces.  "
        "Spark builds gram+position structs in-row (let-bound array, no "
        "per-gram shuffle), broadcasts the flagged-gram set, and anti-joins "
        "covered positions; the oracle replays it with window leads.",
)
def q_remove_repeated_spans(spark, sf_dir):
    return dd.remove_repeated_spans(load(spark, sf_dir, "documents"),
                                    n=5, min_docs=2)


# --------------------------------------------------------------------------
@register(
    "q_remove_duplicated_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, coalesce({_DUCK_TOKS}, []) AS t FROM documents),
    idxed AS (
      SELECT doc_id, t,
             unnest(range(CAST(ceil(len(t) / {_lines.CHUNK_LEN}.0) AS BIGINT))) AS idx
      FROM toks),
    chunk_txt AS (
      SELECT doc_id, CAST(idx AS INT) AS idx,
             array_to_string(list_slice(t, idx * {_lines.CHUNK_LEN} + 1,
                                        idx * {_lines.CHUNK_LEN} + {_lines.CHUNK_LEN}), ' ') AS chunk
      FROM idxed),
    flagged AS (
      SELECT chunk FROM chunk_txt GROUP BY chunk
      HAVING count(DISTINCT doc_id) >= {_lines.MIN_DOC_FREQ}),
    bad AS (
      SELECT DISTINCT c.doc_id, c.idx
      FROM chunk_txt c JOIN flagged f USING (chunk)),
    kept AS (
      SELECT c.doc_id, c.idx, c.chunk
      FROM chunk_txt c ANTI JOIN bad b ON c.doc_id = b.doc_id AND c.idx = b.idx),
    rebuilt AS (
      SELECT doc_id, string_agg(chunk, ' ' ORDER BY idx) AS clean_text
      FROM kept GROUP BY doc_id),
    removed AS (
      SELECT doc_id, count(*) AS n_removed FROM bad GROUP BY doc_id)
    SELECT t.doc_id,
           coalesce(r.clean_text, '') AS clean_text,
           CAST(ceil(len(t.t) / {_lines.CHUNK_LEN}.0) AS BIGINT) AS n_chunks,
           CAST(coalesce(x.n_removed, 0) AS BIGINT) AS n_removed
    FROM toks t
    LEFT JOIN rebuilt r USING (doc_id)
    LEFT JOIN removed x USING (doc_id)
    """,
    doc="Chunk-level dedup (the CCNet/RefinedWeb 'line dedup' pass on "
        "fixed 8-token windows): any chunk occurring in >=2 distinct docs "
        "is dropped from every doc, the survivors re-join in order.  Spark "
        "shuffles only (id, idx, md5) triples and rebuilds text in-row via "
        "an index-aware array filter; the oracle replays with list_slice.",
)
def q_remove_duplicated_chunks(spark, sf_dir):
    return _lines.remove_duplicated_chunks(
        load(spark, sf_dir, "documents"),
        chunk_len=_lines.CHUNK_LEN, min_doc_freq=_lines.MIN_DOC_FREQ)


# --------------------------------------------------------------------------
@register(
    "q_dedup_incremental",
    oracle=f"""
    {_DUCK_BANDS},
    cands AS (
      SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.new_id, c.old_id, count(*) AS i
      FROM cands c
      JOIN shingles x ON x.doc_id = c.new_id
      JOIN shingles y ON y.doc_id = c.old_id AND y.shingle = x.shingle
      GROUP BY c.new_id, c.old_id),
    verified AS (
      SELECT i.new_id, i.old_id,
             round(i.i * 1.0 / (sa.n + sb.n - i.i), 4) AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.new_id
      JOIN sizes sb ON sb.doc_id = i.old_id
      WHERE round(i.i * 1.0 / (sa.n + sb.n - i.i), 4) >= 0.5),
    best AS (
      SELECT new_id, old_id AS match_id, jaccard
      FROM (SELECT *, row_number() OVER (PARTITION BY new_id
                        ORDER BY jaccard DESC, old_id ASC) AS rn
            FROM verified)
      WHERE rn = 1)
    SELECT d.doc_id, b.match_id IS NOT NULL AS is_dup,
           CAST(b.match_id AS BIGINT) AS match_id, b.jaccard
    FROM documents d LEFT JOIN best b ON b.new_id = d.doc_id
    WHERE d.doc_id % 2 = 1
    """,
    doc="Incremental near-dedup (new batch vs existing corpus — the "
        "production shape): odd-id docs play the fresh crawl batch, "
        "even-id docs the signed corpus.  Both sides band independently "
        "(corpus side = its materialized signature table, never "
        "re-hashed or self-joined); one cross-side band equi-join, exact "
        "Jaccard verify on survivors, best match per new doc with "
        "deterministic ties.",
)
def q_dedup_incremental(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    return dd.dedup_against(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        threshold=0.5,
    )


# --------------------------------------------------------------------------
@register(
    "q_dedup_stats",
    oracle=_DUCK_COMP + """,
    asg AS (
      SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
    csizes AS (SELECT cluster, count(*) AS sz FROM asg GROUP BY cluster)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs,
           CAST(CASE WHEN sz > 1 THEN (sz - 1) * count(*) ELSE 0 END AS BIGINT)
             AS n_removable
    FROM csizes GROUP BY sz
    """,
    doc="Dedup report: the cluster-size histogram with docs-removable per "
        "size — the number every dedup run is judged by ('how much does "
        "near-dedup shrink this corpus?').  Built on the same CC output "
        "as q_dedup_clusters; two short-key aggs beyond it.",
)
def q_dedup_stats(spark, sf_dir):
    from pyspark.sql import functions as F

    clusters = dd.dedup_clusters(load(spark, sf_dir, "documents"), threshold=0.5)
    sizes = clusters.groupBy("cluster").agg(F.count("*").alias("sz"))
    return (
        sizes.groupBy("sz")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.col("sz").cast("long").alias("cluster_size"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            (F.col("sz") * F.col("n_clusters")).cast("long").alias("n_docs"),
            F.when(F.col("sz") > 1, (F.col("sz") - 1) * F.col("n_clusters"))
            .otherwise(F.lit(0)).cast("long").alias("n_removable"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "q_containment_pairs",
    oracle=f"""
    {_DUCK_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(i * 1.0 / sa.n, 4) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    WHERE round(i * 1.0 / sa.n, 4) >= 0.6
    """,
    doc="Directed shingle containment |A∩B|/|A| ≥ 0.6: the asymmetric "
        "near-dup relation (small doc quoted inside a big one) that "
        "Jaccard structurally misses.  Shingle equi-join is the candidate "
        "generator; minhash-LSH is deliberately NOT used here because "
        "minhash estimates Jaccard, not containment.",
)
def q_containment_pairs(spark, sf_dir):
    return dd.containment_pairs(load(spark, sf_dir, "documents"),
                                threshold=0.6)


# --------------------------------------------------------------------------
@register(
    "q_ngram_novelty",
    oracle=f"""
    {_DUCK_SHINGLES},
    gdf AS (SELECT shingle, count(*) AS gdf FROM shingles GROUP BY shingle),
    per_doc AS (
      SELECT s.doc_id, count(*) AS n_grams,
             sum(CASE WHEN g.gdf >= 2 THEN 1 ELSE 0 END) AS n_shared
      FROM shingles s JOIN gdf g USING (shingle)
      GROUP BY s.doc_id)
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_shared AS BIGINT) AS n_shared,
           round(1.0 - n_shared * 1.0 / n_grams, 4) + 0.0 AS novelty
    FROM per_doc
    """,
    doc="Per-document 3-gram novelty: fraction of the doc's distinct "
        "3-grams occurring in NO other document (1 - shared/distinct) — "
        "the boilerplate/memorization signal that thresholds "
        "template-heavy docs pairwise dedup misses.  One gram-keyed agg "
        "plus one gram-keyed join; only (id, gram) pairs ever shuffle.",
)
def q_ngram_novelty(spark, sf_dir):
    from nonconsumptive_spark.operators import textstats as ts

    return ts.ngram_novelty(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_snm_pairs",
    oracle=f"""
    {_DUCK_SHINGLES},
    keyed AS (
      SELECT doc_id,
             array_to_string(
               list_sort(list_distinct({_DUCK_TOKS}))[1:{dd.SNM_KEY_TOKENS}],
               ' ') AS key
      FROM documents),
    ranked AS (
      SELECT s.doc_id, k.key,
             row_number() OVER (ORDER BY k.key, s.doc_id) - 1 AS rnk
      FROM (SELECT DISTINCT doc_id FROM shingles) s
      JOIN keyed k USING (doc_id)),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ranked a JOIN ranked b
        ON b.rnk > a.rnk AND b.rnk - a.rnk < {dd.SNM_WINDOW}),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT p.doc_a, p.doc_b, count(*) AS i
      FROM pairs p
      JOIN shingles sa ON sa.doc_id = p.doc_a
      JOIN shingles sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(i * 1.0 / (za.n + zb.n - i), 4) AS jaccard
    FROM inter
    JOIN sizes za ON za.doc_id = doc_a
    JOIN sizes zb ON zb.doc_id = doc_b
    WHERE round(i * 1.0 / (za.n + zb.n - i), 4) >= 0.5
    """,
    doc=f"Sorted-neighborhood dedup (Hernandez-Stolfo): docs ranked by a "
        f"{dd.SNM_KEY_TOKENS}-token sorted-distinct-prefix blocking key, "
        f"pairs within {dd.SNM_WINDOW} rank positions verified by exact "
        "shingle Jaccard ≥ 0.5.  Complements LSH: candidate count is "
        "rows × (window−1) by construction, no hashing assumptions.  "
        "Spark ranks via the distributed per-partition-offset assigner "
        "(no global sort) and realizes the rank-distance join as two "
        "bucket equi-joins; the oracle replays with row_number and a "
        "rank-difference join.",
)
def q_snm_pairs(spark, sf_dir):
    return dd.snm_pairs(load(spark, sf_dir, "documents"),
                        window=dd.SNM_WINDOW, threshold=0.5)


# --------------------------------------------------------------------------
@register(
    "q_ppjoin_pairs",
    oracle=_DUCK_JACCARD_PAIRS,
    doc="PPJoin-style exact Jaccard ≥ 0.5 via PREFIX filtering (Xiao et "
        "al. 2008): candidates come from equi-joining only each doc's "
        "rarest n-ceil(t*n)+1 shingles plus a length filter — exact like "
        "the naive shingle join but with per-shingle fan-out capped by "
        "rarity ordering (operators/dedup.py:ppjoin_pairs; oracle is the "
        "ground-truth full join, so the result-set identity IS the check).",
)
def q_ppjoin_pairs(spark, sf_dir):
    return dd.ppjoin_pairs(load(spark, sf_dir, "documents"), threshold=0.5)


# --------------------------------------------------------------------------
@register(
    "q_lsh_dedup_recall",
    oracle=f"""
    {_DUCK_BANDS},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    truth AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE round(i * 1.0 / (sa.n + sb.n - i), 4) >= 0.5)
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
           CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM truth t
                 JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
                AS BIGINT) AS n_hit,
           round((SELECT count(*) FROM truth t
                  JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
                 * 1.0
                 / greatest((SELECT count(*) FROM truth), 1), 4) + 0.0
             AS recall
    """,
    doc="Self-evaluation of the MinHash-LSH banding: recall of the band "
        "candidate set against the EXACT Jaccard >= 0.5 ground truth "
        "(the dedup analog of the r2 kNN recall oracles).  Both sides "
        "replayed from the same shingle/minhash definitions; one row of "
        "exact counts plus a mirrored recall division.",
)
def q_lsh_dedup_recall(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    from nonconsumptive_spark.plans.checkpoint import materialize_once
    sh = materialize_once(dd.doc_shingles(docs), "recall_shingles")
    cand = dd.lsh_candidate_pairs(docs, shingles_df=sh).select(
        "doc_a", "doc_b")
    truth = dd.jaccard_pairs(docs, threshold=0.5, shingles_df=sh).select(
        "doc_a", "doc_b")
    n_true = truth.agg(F.count("*").cast("long").alias("n_true"))
    n_cand = cand.agg(F.count("*").cast("long").alias("n_candidates"))
    n_hit = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count("*").cast("long").alias("n_hit"))
    return (
        n_true.crossJoin(F.broadcast(n_cand)).crossJoin(F.broadcast(n_hit))
        .select(
            "n_true", "n_candidates", "n_hit",
            (F.round(F.col("n_hit").cast("double")
                     / F.greatest(F.col("n_true"), F.lit(1)), 4)
             + F.lit(0.0)).alias("recall"),
        )
    )


# --------------------------------------------------------------------------
_BLOOM_PROBE_VALUES = ", ".join(f"({i})" for i in range(dd.BLOOM_K))


@register(
    "q_bloom_novelty",
    oracle=f"""
    {_DUCK_SHINGLES},
    corpus AS (SELECT DISTINCT shingle FROM shingles WHERE doc_id % 2 = 0),
    probes(i) AS (VALUES {_BLOOM_PROBE_VALUES}),
    bits AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5(i || ':' || shingle), 1, 15)) AS BIGINT)
               % {dd.BLOOM_M} AS pos
      FROM corpus CROSS JOIN probes),
    batch AS (SELECT doc_id, shingle FROM shingles WHERE doc_id % 2 = 1),
    probed AS (
      SELECT doc_id, shingle,
             CAST(('0x' || substr(md5(i || ':' || shingle), 1, 15)) AS BIGINT)
               % {dd.BLOOM_M} AS pos
      FROM batch CROSS JOIN probes),
    hits AS (
      SELECT doc_id, shingle, count(b.hit) = {dd.BLOOM_K} AS bloom_hit
      FROM probed p LEFT JOIN (SELECT pos, 1 AS hit FROM bits) b USING (pos)
      GROUP BY doc_id, shingle),
    flags AS (
      SELECT h.doc_id, h.bloom_hit, (c.shingle IS NOT NULL) AS true_hit
      FROM hits h LEFT JOIN corpus c USING (shingle)),
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom_hits,
             CAST(sum(CASE WHEN true_hit THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_hits,
             CAST(sum(CASE WHEN bloom_hit AND NOT true_hit THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_false_pos
      FROM flags GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(a.n_shingles, 0) AS n_shingles,
           coalesce(a.n_bloom_hits, 0) AS n_bloom_hits,
           coalesce(a.n_true_hits, 0) AS n_true_hits,
           coalesce(a.n_false_pos, 0) AS n_false_pos
    FROM documents d LEFT JOIN agg a USING (doc_id)
    WHERE d.doc_id % 2 = 1
    """,
    doc="Bloom-filter shingle novelty (MassiveText-style membership "
        "pre-filter): the even-id corpus signs its distinct 3-shingles "
        "into a 65536-bit / 3-probe filter, every odd-id batch doc probes "
        "it, and the exact-membership audit surfaces the filter's "
        "one-sided false positives as a verified output.  The filter is "
        "the DISTINCT set of set bit positions — <= m rows whatever the "
        "corpus size — so the probe join is a broadcast.",
)
def q_bloom_novelty(spark, sf_dir):
    return dd.bloom_shingle_novelty(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_cdc_duplicate_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
    bnd AS (
      SELECT doc_id, t,
             list_prepend(1, list_filter(
               generate_series(2, len(t)),
               p -> CAST(('0x' || substr(md5(t[p-1] || ' ' || t[p]), 1, 15))
                         AS BIGINT) % {_lines.CDC_G} = 0)) AS starts
      FROM toks WHERE len(t) > 0),
    chunks AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(starts)),
               i -> array_to_string(
                      t[starts[i] : CASE WHEN i < len(starts)
                                    THEN starts[i+1] - 1 ELSE len(t) END],
                      ' '))) AS chunk
      FROM bnd)
    SELECT md5(chunk) AS chunk_md5,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occ
    FROM chunks
    GROUP BY md5(chunk)
    HAVING count(DISTINCT doc_id) >= {_lines.MIN_DOC_FREQ}
    """,
    doc="Content-defined chunking (CDC) duplicate detector: chunk "
        "boundaries cut where md5 of the local token bigram hits 0 mod "
        f"{_lines.CDC_G}, so identical passages chunk identically at ANY "
        "document offset — the rsync/LBFS shift-resistance fixed windows "
        "lack.  Chunking is in-row; only md5 short keys shuffle into one "
        "doc-frequency agg.",
)
def q_cdc_duplicate_chunks(spark, sf_dir):
    return _lines.cdc_duplicated_chunks(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_edit_distance_pairs",
    oracle=f"""
    {_DUCK_BANDS},
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id),
    texts AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^\\pL]+', ' ', 'g')) AS nt
      FROM documents)
    SELECT c.doc_a, c.doc_b,
           CAST(levenshtein(ta.nt, tb.nt) AS BIGINT) AS lev,
           {dd.LEV_REL_DEN} * levenshtein(ta.nt, tb.nt)
             <= greatest(len(ta.nt), len(tb.nt)) AS is_dup
    FROM cands c
    JOIN texts ta ON ta.doc_id = c.doc_a
    JOIN texts tb ON tb.doc_id = c.doc_b
    """,
    doc="Edit-distance fuzzy dedup: LSH band candidates verified by "
        "character-level Levenshtein on normalized text (native exact DP "
        "in both engines) — catches OCR/typo mutation where token-shingle "
        "Jaccard degrades.  is_dup is the integer inequality "
        "5*lev <= max(len); the quadratic DP runs only on band survivors.",
)
def q_edit_distance_pairs(spark, sf_dir):
    return dd.edit_distance_pairs(load(spark, sf_dir, "documents"))


# -- repeated regions from the suffix array ---------------------------------
_RR_MIN = 10


@register(
    "q_repeated_regions",
    f"""
    WITH base AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
    suf AS (
      SELECT doc_id, p AS pos, t[p:] AS s
      FROM base, unnest(range(1, len(t) + 1)) AS r(p)),
    ordered AS (
      SELECT doc_id, pos, s,
             lag(s)  OVER w AS prv,
             lead(s) OVER w AS nxt
      FROM suf WINDOW w AS (ORDER BY s, doc_id, pos)),
    lcps AS (
      SELECT doc_id, pos,
             greatest(
               CASE WHEN prv IS NULL THEN 0 ELSE
                 coalesce(list_min(list_filter(
                   range(1, least(len(s), len(prv)) + 1),
                   i -> s[i] <> prv[i])), least(len(s), len(prv)) + 1) - 1
               END,
               CASE WHEN nxt IS NULL THEN 0 ELSE
                 coalesce(list_min(list_filter(
                   range(1, least(len(s), len(nxt)) + 1),
                   i -> s[i] <> nxt[i])), least(len(s), len(nxt)) + 1) - 1
               END) AS lrp
      FROM ordered),
    flagged AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS s,
             CAST(pos + lrp AS BIGINT) AS e
      FROM lcps WHERE lrp >= {_RR_MIN}),
    runmax AS (
      SELECT doc_id, s, e,
             coalesce(max(e) OVER (
               PARTITION BY doc_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
               AS prev_max
      FROM flagged),
    grp AS (
      SELECT doc_id, s, e,
             sum(CASE WHEN s > prev_max THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e) AS g
      FROM runmax)
    SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
           max(e) - min(s) AS span_len
    FROM grp GROUP BY doc_id, g
    """,
    doc="Repeated substring regions from the distributed "
        "suffix array (operators/suffix.py): prefix-doubling rank rounds, "
        "adjacent-rank LCP, no quadratic scan.",
)
def q_repeated_regions(spark, sf_dir):
    from nonconsumptive_spark.operators.suffix import repeated_regions

    return repeated_regions(load(spark, sf_dir, "documents"),
                            min_len=_RR_MIN)


# -- Fellegi–Sunter record-linkage scoring -----------------------------------
_FS_SCALE = 1_000_000
_FS_M = 0.9


def _fs_oracle(m: float, scale: int, min_agree: int) -> str:
    fields = """SELECT c_custkey AS key, c_nationkey AS blk,
             c_mktsegment AS seg,
             floor(c_acctbal / 1000.0) AS bal,
             substr(c_name, length(c_name), 1) AS dig
      FROM customer"""
    wq = []
    for j in (1, 2, 3):
        wq.append(f"""
        CAST(round(CASE WHEN g{j}
               THEN log2({m} * CAST(n AS DOUBLE) / CAST(cc{j} AS DOUBLE))
               ELSE log2((1.0 - {m}) * CAST(n AS DOUBLE)
                         / (CAST(n AS DOUBLE) - CAST(cc{j} AS DOUBLE)))
             END * {scale}.0) AS BIGINT)""")
    return f"""
    WITH c AS ({fields}),
    p AS (
      SELECT a.key AS key_a, b.key AS key_b,
             a.seg = b.seg AS g1, a.bal = b.bal AS g2, a.dig = b.dig AS g3
      FROM c a JOIN c b ON a.blk = b.blk AND a.key < b.key),
    st AS (
      SELECT count(*) AS n,
             greatest(least(sum(CASE WHEN g1 THEN 1 ELSE 0 END), count(*) - 1), 1) AS cc1,
             greatest(least(sum(CASE WHEN g2 THEN 1 ELSE 0 END), count(*) - 1), 1) AS cc2,
             greatest(least(sum(CASE WHEN g3 THEN 1 ELSE 0 END), count(*) - 1), 1) AS cc3
      FROM p)
    SELECT key_a, key_b,
           CAST((CASE WHEN g1 THEN 1 ELSE 0 END)
                + (CASE WHEN g2 THEN 1 ELSE 0 END)
                + (CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           {" + ".join(wq)} AS weight_scaled
    FROM p CROSS JOIN st
    WHERE (CASE WHEN g1 THEN 1 ELSE 0 END)
          + (CASE WHEN g2 THEN 1 ELSE 0 END)
          + (CASE WHEN g3 THEN 1 ELSE 0 END) >= {min_agree}"""


@register("q_fs_link_scores", _fs_oracle(_FS_M, _FS_SCALE, 2),
          doc="Fellegi-Sunter record-linkage weights over "
              "nation-blocked customer pairs (operators/linkage.fs_link_scores): "
              "u-rates from one corpus agg, FS_SCALE integer weights.")
def q_fs_link_scores(spark, sf_dir):
    from nonconsumptive_spark.operators import linkage

    return linkage.fs_link_scores(load(spark, sf_dir, "customer"))


# -- near-dup-aware sampling: cap per cluster ---------------------------------
_CCS_CAP = 2


def _ccs_oracle(cap: int) -> str:
    return (
        _DUCK_COMP
        + f""",
    asg AS (
      SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
    ranked AS (
      SELECT doc_id, cluster,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) AS rk
      FROM asg)
    SELECT doc_id, CAST(cluster AS BIGINT) AS cluster,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {cap}"""
    )


@register("q_cluster_capped_sample", _ccs_oracle(_CCS_CAP),
          doc="Per-cluster capped sampling via hash-"
              "ranked row_number within cluster keys.")
def q_cluster_capped_sample(spark, sf_dir):
    from nonconsumptive_spark.operators import dedup as dd

    return dd.cluster_capped_sample(load(spark, sf_dir, "documents"),
                                    cap=_CCS_CAP)


# -- BLEU-lite pair scoring --------------------------------------------------
def _bleu_oracle() -> str:
    from nonconsumptive_spark.operators.evaluation import BLEU_BLOCK_MOD

    return f"""
    WITH base AS (SELECT doc_id AS doc, lang, {_DUCK_TOKS} AS t
                  FROM documents),
    lens AS (
      SELECT doc, lang, CAST(len(t) AS BIGINT) AS l1,
             CAST(greatest(len(t) - 1, 0) AS BIGINT) AS l2,
             doc % {BLEU_BLOCK_MOD} AS blk
      FROM base),
    pairs AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b,
             a.l1 AS l1_a, b.l1 AS l1_b, b.l2 AS l2_b
      FROM lens a JOIN lens b
        ON a.lang = b.lang AND a.blk = b.blk AND a.doc < b.doc),
    uni AS (
      SELECT doc, g, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT doc, unnest(t) AS g FROM base) GROUP BY doc, g),
    big AS (
      SELECT doc, g, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT doc, t[i] || ' ' || t[i + 1] AS g
            FROM base,
                 unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS r(i))
      GROUP BY doc, g),
    c1 AS (
      SELECT p.doc_a, p.doc_b,
             CAST(sum(least(xa.c, xb.c)) AS BIGINT) AS clip1
      FROM pairs p
      JOIN uni xa ON xa.doc = p.doc_a
      JOIN uni xb ON xb.doc = p.doc_b AND xb.g = xa.g
      GROUP BY p.doc_a, p.doc_b),
    c2 AS (
      SELECT p.doc_a, p.doc_b,
             CAST(sum(least(xa.c, xb.c)) AS BIGINT) AS clip2
      FROM pairs p
      JOIN big xa ON xa.doc = p.doc_a
      JOIN big xb ON xb.doc = p.doc_b AND xb.g = xa.g
      GROUP BY p.doc_a, p.doc_b),
    j AS (
      SELECT p.doc_a, p.doc_b, p.l1_a, p.l1_b, p.l2_b,
             CAST(coalesce(c1.clip1, 0) AS BIGINT) AS clip1,
             CAST(coalesce(c2.clip2, 0) AS BIGINT) AS clip2
      FROM pairs p
      LEFT JOIN c1 ON c1.doc_a = p.doc_a AND c1.doc_b = p.doc_b
      LEFT JOIN c2 ON c2.doc_a = p.doc_a AND c2.doc_b = p.doc_b)
    SELECT doc_a, doc_b,
           CASE WHEN l1_b > 0
                THEN round(CAST(clip1 AS DOUBLE) / l1_b, 6) + 0.0
                ELSE 0.0 END AS p1,
           CASE WHEN l2_b > 0
                THEN round(CAST(clip2 AS DOUBLE) / l2_b, 6) + 0.0
                ELSE 0.0 END AS p2,
           CASE WHEN l1_a > 0 AND l1_b > 0 AND l2_b > 0
                     AND clip1 > 0 AND clip2 > 0
                THEN round(
                  least(CAST(1.0 AS DOUBLE),
                        CAST(l1_b AS DOUBLE) / l1_a)
                  * sqrt((CAST(clip1 AS DOUBLE) / l1_b)
                         * (CAST(clip2 AS DOUBLE) / l2_b)), 6) + 0.0
                ELSE 0.0 END AS bleu2
    FROM j
    """


@register("q_bleu_pairs", _bleu_oracle(),
          doc="Clipped-precision BLEU-2 over blocked same-lang doc "
              "pairs: n-gram clip sums via count-frame joins.")
def q_bleu_pairs(spark, sf_dir):
    from nonconsumptive_spark.operators.evaluation import bleu_pairs

    return bleu_pairs(load(spark, sf_dir, "documents"))


# -- Jaro-Winkler fuzzy-key linkage -----------------------------------------
_JW_THRESHOLD = 0.8


def _jw_oracle() -> str:
    from nonconsumptive_spark.operators.linkage import JW_KEY_CHARS, JW_WINDOW

    return f"""
    WITH keyed AS (
      SELECT doc_id AS doc, lang,
             substr(lower(coalesce(text, '')), 1, {JW_KEY_CHARS}) AS k
      FROM documents),
    ranked AS (
      SELECT doc, lang, k,
             row_number() OVER (ORDER BY lang, k, doc) AS rnk
      FROM keyed),
    p AS (
      SELECT least(a.doc, b.doc) AS doc_a,
             greatest(a.doc, b.doc) AS doc_b,
             round(jaro_winkler_similarity(a.k, b.k), 6) + 0.0 AS jw
      FROM ranked a JOIN ranked b
        ON a.lang = b.lang AND b.rnk > a.rnk
           AND b.rnk - a.rnk < {JW_WINDOW})
    SELECT doc_a, doc_b, jw FROM p WHERE jw >= {_JW_THRESHOLD!r}
    """


@register("q_jaro_winkler_links", _jw_oracle())
def q_jaro_winkler_links(spark, sf_dir):
    """SNM-window Jaro-Winkler linkage: candidates bounded to N*window
    by a (lang, key, id) sorted-neighborhood rank join (see
    operators/linkage.jaro_winkler_pairs), scored by the DuckDB-bit-
    parity JW kernel."""
    from nonconsumptive_spark.operators.linkage import jaro_winkler_pairs

    return jaro_winkler_pairs(load(spark, sf_dir, "documents"),
                              threshold=_JW_THRESHOLD)


# -- ROUGE-2 between blocked pairs --------------------------------------------
def _rouge_oracle() -> str:
    from nonconsumptive_spark.operators.evaluation import BLEU_BLOCK_MOD

    return f"""
    WITH base AS (SELECT doc_id AS doc, lang, {_DUCK_TOKS} AS t
                  FROM documents),
    lens AS (
      SELECT doc, lang, CAST(greatest(len(t) - 1, 0) AS BIGINT) AS l2,
             doc % {BLEU_BLOCK_MOD} AS blk
      FROM base),
    pairs AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b,
             a.l2 AS l2_a, b.l2 AS l2_b
      FROM lens a JOIN lens b
        ON a.lang = b.lang AND a.blk = b.blk AND a.doc < b.doc),
    big AS (
      SELECT doc, g, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT doc, t[i] || ' ' || t[i + 1] AS g
            FROM base,
                 unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS r(i))
      GROUP BY doc, g),
    c2 AS (
      SELECT p.doc_a, p.doc_b,
             CAST(sum(least(xa.c, xb.c)) AS BIGINT) AS clip2
      FROM pairs p
      JOIN big xa ON xa.doc = p.doc_a
      JOIN big xb ON xb.doc = p.doc_b AND xb.g = xa.g
      GROUP BY p.doc_a, p.doc_b)
    SELECT p.doc_a, p.doc_b,
           CAST(coalesce(c2.clip2, 0) AS BIGINT) AS clip2,
           CASE WHEN p.l2_b > 0
                THEN round(CAST(coalesce(c2.clip2, 0) AS DOUBLE) / p.l2_b,
                           6) + 0.0 ELSE 0.0 END AS rouge2_p,
           CASE WHEN p.l2_a > 0
                THEN round(CAST(coalesce(c2.clip2, 0) AS DOUBLE) / p.l2_a,
                           6) + 0.0 ELSE 0.0 END AS rouge2_r,
           CASE WHEN p.l2_a + p.l2_b > 0
                THEN round(CAST(2 * coalesce(c2.clip2, 0) AS DOUBLE)
                           / (p.l2_a + p.l2_b), 6) + 0.0
                ELSE 0.0 END AS rouge2_f1
    FROM pairs p
    LEFT JOIN c2 ON c2.doc_a = p.doc_a AND c2.doc_b = p.doc_b
    """


@register("q_rouge2_pairs", _rouge_oracle(),
          doc="ROUGE-2 recall over blocked same-lang doc pairs "
              "via bigram count-frame joins.")
def q_rouge2_pairs(spark, sf_dir):
    from nonconsumptive_spark.operators.evaluation import rouge2_pairs

    return rouge2_pairs(load(spark, sf_dir, "documents"))


# -- dedup survivorship by source ----------------------------------------------
def _dedup_rate_oracle() -> str:
    return _DUCK_COMP + """,
    asg AS (
      SELECT d.doc_id, d.source,
             CAST(coalesce(c.cluster, d.doc_id) AS BIGINT) AS cluster
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
    canon AS (
      SELECT cluster, source AS canon_source FROM asg
      WHERE doc_id = cluster)
    SELECT a.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(CASE WHEN a.doc_id = a.cluster THEN 1 END), 0)
                AS BIGINT) AS n_kept,
           CAST(coalesce(sum(CASE WHEN a.doc_id <> a.cluster THEN 1 END), 0)
                AS BIGINT) AS n_removed,
           CAST(coalesce(sum(CASE WHEN a.doc_id <> a.cluster
                                   AND k.canon_source <> a.source
                             THEN 1 END), 0) AS BIGINT) AS n_cross_source,
           round(CAST(coalesce(sum(CASE WHEN a.doc_id <> a.cluster
                                        THEN 1 END), 0) AS DOUBLE)
                 / count(*), 6) + 0.0 AS removal_rate
    FROM asg a JOIN canon k USING (cluster)
    GROUP BY a.source"""


@register("q_dedup_rate_by_source", _dedup_rate_oracle())
def q_dedup_rate_by_source(spark, sf_dir):
    """Near-dup survivorship per source: how many of each source's
    documents the MinHash-cluster dedup removes, and how many of those
    removals are CROSS-source (this source's docs losing to another
    source's canonical copy) — the "which feed is a mirror of which"
    diagnostic that the corpus-level q_dedup_stats histogram can't
    answer.  Keeper = the cluster's min-id member (dedup_clusters'
    convention), so the canonical's source comes from one equi-join on
    the cluster label.  Plan: the shared LSH cluster machinery, then
    two label/source-keyed joins + one source agg — nothing pairwise
    beyond the banded candidate join."""
    from nonconsumptive_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    cl = dd.dedup_clusters(docs, threshold=0.5)
    asg = docs.select("doc_id", "source").join(cl, "doc_id")
    canon = (
        asg.filter(F.col("doc_id") == F.col("cluster"))
        .select("cluster", F.col("source").alias("canon_source"))
    )
    removed = F.col("doc_id") != F.col("cluster")
    return (
        asg.join(canon, "cluster")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(F.sum(F.when(~removed, 1)), F.lit(0))
            .cast("long").alias("n_kept"),
            F.coalesce(F.sum(F.when(removed, 1)), F.lit(0))
            .cast("long").alias("n_removed"),
            F.coalesce(
                F.sum(F.when(
                    removed & (F.col("canon_source") != F.col("source")),
                    1)), F.lit(0)).cast("long").alias("n_cross_source"),
        )
        .select(
            "source", "n_docs", "n_kept", "n_removed", "n_cross_source",
            (F.round(F.col("n_removed").cast("double") / F.col("n_docs"),
                     6) + F.lit(0.0)).alias("removal_rate"),
        )
    )


# -- verified-Jaccard histogram over LSH candidates ------------------------------
# The threshold-tuning table for near-dedup: every LSH candidate pair is
# verified once, then bucketed by exact Jaccard — read it to pick the
# dedup threshold instead of guessing (the pair counts above each bin
# floor are the "how much would we remove at t" curve).
def _jhist_oracle() -> str:
    return _DUCK_BANDS + """,
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
      SELECT least(CAST(floor(round(coalesce(i.i, 0) * 1.0
                                    / (sa.n + sb.n - coalesce(i.i, 0)), 4)
                              * 10) AS BIGINT), 9) AS bin
      FROM cands c
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b),
    hist AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs
      FROM jac GROUP BY bin)
    SELECT bin,
           round(bin / 10.0, 1) + 0.0 AS bin_floor,
           n_pairs,
           CAST(sum(n_pairs) OVER (ORDER BY bin DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS pairs_at_or_above
    FROM hist"""


@register("q_jaccard_histogram", _jhist_oracle())
def q_jaccard_histogram(spark, sf_dir):
    """Exact-Jaccard histogram of every LSH candidate pair (see header
    note) — bin floors at 0.1 steps with the cumulative
    pairs-at-or-above curve.  Reuses the shared banding machinery; the
    verify stage runs once at threshold 0.  Plan: band equi-join ->
    survivor verify -> 10-row frames; windows never exceed 10 rows."""
    from pyspark.sql import Window
    from nonconsumptive_spark.operators import dedup as dd

    pairs = dd.minhash_dedup_pairs(
        load(spark, sf_dir, "documents"), threshold=0.0)
    hist = (
        pairs.select(
            F.least(F.floor(F.col("jaccard") * 10).cast("long"),
                    F.lit(9)).alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )
    w = (Window.orderBy(F.desc("bin"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return hist.select(
        "bin",
        (F.round(F.col("bin") / 10.0, 1) + F.lit(0.0)).alias("bin_floor"),
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("pairs_at_or_above"),
    )


# -- near-dup threshold tuning curve ------------------------------------------
def _threshold_curve_oracle() -> str:
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


@register("q_dedup_threshold_curve", _threshold_curve_oracle())
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
