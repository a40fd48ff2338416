"""Deduplication operators for training-data pipelines.

Four families, all deterministic and (except where noted) SQL-expressible
so the DuckDB oracle verifies them:

  * exact:       md5 fingerprint of normalized text, group-by (hash agg)
  * n-gram Jaccard: exact pairwise similarity over 3-token shingle sets
  * MinHash+LSH: shingle → k minhashes → banded bucket join → verify
  * SimHash:     64-bit weighted sign fingerprint + Hamming candidate pairs

The MinHash / SimHash hash functions are built from md5 (identical in Spark
and DuckDB) rather than the engines' internal hash functions, precisely so
both engines compute bit-identical signatures.

Scale notes:
  * Shingling and minhash signatures are computed *inside the token array*
    with higher-order functions — no per-shingle shuffle; the only wide
    stages are the band-bucket self-join (keyed on short band strings) and
    the candidate verification join.
  * The LSH design is the standard (b bands × r rows) construction:
    P(candidate) = 1 - (1 - j^r)^b; with k=16, b=4, r=4 the curve crosses
    50% near j≈0.55, matching the 0.5 near-dup threshold used here.
  * The all-pairs exact Jaccard operator is quadratic by design (it is the
    correctness oracle for LSH); at 100 TB only the LSH path runs.

Threshold contract, shared by every Jaccard pair path (batch and
incremental): a verified pair is output iff ``round(J, 4) >= t``, with J
computed from exact shingle-set sizes by ``verify_pairs``.  Candidate
pruning (the PPJoin prefix, length and positional bounds) runs against
``t - 1/20000`` (``_prune_fraction``) — the smallest true J that rounds up
to t — so no bound drops a pair the rounded output keeps.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nonconsumptive_spark.functions.text import let, tokenize
from nonconsumptive_spark.operators.textstats import fingerprint
from nonconsumptive_spark.plans.checkpoint import materialize_once

# MinHash parameters — shared verbatim with the DuckDB oracle SQL.
MINHASH_P = 2_147_483_647  # 2^31 - 1, prime
N_HASHES = 16
LSH_BANDS = 4
LSH_ROWS = 4  # N_HASHES = LSH_BANDS * LSH_ROWS
# Deterministic affine hash params a_i (nonzero), b_i.
HASH_AS = [(i * 2_654_435_761 + 104_729) % MINHASH_P or 1 for i in range(1, N_HASHES + 1)]
HASH_BS = [(i * 40_503 + 7) % MINHASH_P for i in range(1, N_HASHES + 1)]

SHINGLE_N = 3


def shingle_array(tokens_col, n: int = SHINGLE_N):
    """array<string> tokens -> array<string> distinct n-token shingles
    (space-joined), built inside the array: no explode, no shuffle.

    Uses ``let`` to bind the token array once — direct references inside
    the transform lambda would re-run the tokenizer per element (O(n²),
    see functions.text.let)."""

    def build(t):
        grams = F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(n)]),
        )
        return F.array_distinct(F.when(F.size(t) >= n, grams).otherwise(F.array()))

    return let(tokens_col, build)


def _md5_long(c):
    """First 60 bits of md5 as a non-negative long — engine-portable hash."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def doc_shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                 n: int = SHINGLE_N) -> DataFrame:
    """(doc, shingles array) for docs with at least one shingle."""
    return (
        docs.select(id_col, shingle_array(tokenize(text_col), n).alias("shingles"))
        .filter(F.size("shingles") > 0)
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup on normalized-text fingerprint: every doc mapped to the
    minimum doc_id of its duplicate group (keep_id == doc_id => keeper).

    One fingerprint-PARTITIONED window (min id per group) instead of the
    former groupBy + join-back: same keyed shuffle the agg paid, but the
    join's second exchange, the materialized fingerprint frame and the
    two-sided read disappear (r8, guide §2.4; warm sf0.1 ~0.55 ->
    ~0.45 s).  The window key is the dedup group key, so partitions are
    bounded by group size exactly like the agg was.  NULL fingerprints
    (NULL text) are dropped explicitly — the former inner join dropped
    them via non-matching NULL keys, and the output contract (adversarial
    parity fixture) pins that behavior."""
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint")
    return (
        fingerprint(docs, id_col, text_col)
        .filter(F.col("fingerprint").isNotNull())
        .select(id_col, "fingerprint",
                F.min(id_col).over(w).alias("keep_id"))
        .withColumn("is_keeper", F.col(id_col) == F.col("keep_id"))
    )


def _shingle_hash(s, hash_fn: str):
    """Shingle string -> long in [0, MINHASH_P).

    ``md5`` is the oracle-portable default (DuckDB replays it
    bit-for-bit).  ``xxhash64`` is the production fast path: JVM-native,
    measured ~20% faster on the full sf0.1 near-dup pipeline (the hash is
    only part of the tokenize→shingle→fold cost), and statistically
    equivalent for LSH — the exact-Jaccard verification downstream is
    hash-independent, so the final pair set matches the md5 path w.h.p.
    (asserted on the fixture by tests/test_dedup_similarity.py)."""
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(s), F.lit(MINHASH_P)).cast("long")
    return _md5_long(s) % MINHASH_P


def _sig_base(docs: DataFrame, id_col: str, text_col: str,
              keep_shingles: bool = False, materialize: bool = False,
              hash_fn: str = "md5",
              shingles_df: DataFrame | None = None) -> DataFrame:
    """(doc, [shingles,] sig: array<long>) — the minhash signature table in
    ONE narrow pass, no shuffle, and critically ONE evaluation of the
    tokenize->shingle->md5 chain per row.

    Naive formulation (k separate ``array_min(transform(hs, ...))``
    projections) lets Catalyst's CollapseProject inline the upstream hash
    chain into every one of the k expressions — a k-times recompute
    measured at ~10s for 5k docs.  Instead, a single ``aggregate`` folds
    the shingle-hash array once, carrying all k running minima in one
    accumulator array: the md5 chain appears exactly once in the plan.

    ``materialize=True`` lazily localCheckpoints the frame: consumers that
    reference it several times (LSH band self-join + per-side verification
    joins) then read the materialized partitions instead of re-running the
    hash chain per reference — measured 3-4 plan subtrees collapsing to one
    computation.  This is the reference's reservoir-materialization policy
    (data_storage.py:154-161) in Spark form; on a real cluster a reliable
    checkpoint dir / parquet checkpoint (plans.checkpoint) replaces the
    executor-local one."""
    sh = (shingles_df if shingles_df is not None
          else doc_shingles(docs, id_col, text_col))
    keep = ["shingles"] if keep_shingles else []
    hashed = sh.select(
        id_col, *keep,
        F.transform(F.col("shingles"), lambda s: _shingle_hash(s, hash_fn)).alias("hs"),
    )
    params = F.array(
        *[
            F.struct(F.lit(a).cast("long").alias("a"), F.lit(b).cast("long").alias("b"))
            for a, b in zip(HASH_AS, HASH_BS)
        ]
    )
    init = F.array_repeat(F.lit(MINHASH_P).cast("long"), N_HASHES)
    sig_arr = F.aggregate(
        F.col("hs"),
        init,
        lambda acc, h: F.zip_with(
            acc, params, lambda m, p: F.least(m, (p["a"] * h + p["b"]) % MINHASH_P)
        ),
    )
    base = hashed.select(id_col, *keep, sig_arr.alias("sig"))
    return materialize_once(base, "minhash_sig") if materialize else base


def _minhash_wide(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, s0..s{k-1}): one column per minhash (see _sig_base)."""
    wide = _sig_base(docs, id_col, text_col)
    return wide.select(
        id_col, *[F.element_at("sig", i + 1).alias(f"s{i}") for i in range(N_HASHES)]
    )


def _band_rows(base: DataFrame, id_col: str) -> DataFrame:
    """(doc, band, band_key) from a signature frame: LSH_BANDS bands of
    LSH_ROWS consecutive signature values, key = joined string."""
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "-",
                *[
                    F.element_at("sig", b * LSH_ROWS + r + 1).cast("string")
                    for r in range(LSH_ROWS)
                ],
            ).alias("band_key"),
        )
        for b in range(LSH_BANDS)
    ]
    return base.select(id_col, F.explode(F.array(*bands)).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc, hash_idx, minhash): k=16 md5-based affine minhashes over the
    doc's distinct 3-shingle set, exploded to rows (oracle-comparable)."""
    wide = _minhash_wide(docs, id_col, text_col)
    return wide.select(
        id_col,
        F.posexplode(F.array(*[F.col(f"s{i}") for i in range(N_HASHES)])).alias(
            "hash_idx", "minhash"
        ),
    )


def lsh_band_keys(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc, band, band_key): signature split into LSH_BANDS bands of
    LSH_ROWS values; band_key joins the band's rows in hash order (built
    structurally from the signature array — not a collect_list whose order
    would be nondeterministic)."""
    return _band_rows(_sig_base(docs, id_col, text_col), id_col)


def lsh_candidate_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        shingles_df: DataFrame | None = None) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing at least one LSH
    band.  The signature table is materialized once; both self-join sides
    read it back rather than re-hashing the corpus.  ``shingles_df``
    shares a pre-built shingle frame with other consumers (e.g. the
    recall self-eval runs this AND the exact join off one shingling)."""
    bands = _band_rows(_sig_base(docs, id_col, text_col, materialize=True,
                                 shingles_df=shingles_df), id_col)
    a = bands.select(F.col(id_col).alias("doc_a"), "band", "band_key")
    b = bands.select(F.col(id_col).alias("doc_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_pairs(docs: DataFrame, threshold: float = 0.5,
                  id_col: str = "doc_id", text_col: str = "text",
                  shingles_df: DataFrame | None = None) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold via a shingle equi-join
    (only pairs sharing ≥1 shingle are ever materialized)."""
    sh = (shingles_df if shingles_df is not None
          else materialize_once(doc_shingles(docs, id_col, text_col),
                                "shingles"))
    exploded = sh.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    sizes = sh.select(F.col(id_col), F.size("shingles").alias("n"))
    a = exploded.select(F.col(id_col).alias("doc_a"), "shingle")
    b = exploded.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def containment_pairs(docs: DataFrame, threshold: float = 0.8,
                      id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Directed shingle containment C(A→B) = |A∩B| / |A| ≥ threshold:
    the asymmetric near-dup relation Jaccard misses — a short document
    quoted or boilerplated inside a much larger one has high containment
    but low Jaccard (union is dominated by the big doc).  Corpus curation
    uses this to drop subset/quote documents after the symmetric pass.

    Returns (doc_a, doc_b, containment): doc_a's shingles are the
    denominator, pairs are directed, self-pairs excluded.

    Scale shape: same envelope as jaccard_pairs — the shingle equi-join
    IS the candidate generator (only pairs sharing ≥1 shingle ever
    materialize), intersection sizes come from a (doc_a, doc_b) agg of
    the join, and the denominator joins from the materialized per-doc
    size table.  No minhash here on purpose: minhash estimates Jaccard,
    not containment, so LSH banding would systematically miss the
    small-in-big pairs this operator exists to find."""
    sh = materialize_once(doc_shingles(docs, id_col, text_col),
                          "containment_shingles")
    exploded = sh.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    sizes = sh.select(F.col(id_col), F.size("shingles").alias("n"))
    a = exploded.select(F.col(id_col).alias("doc_a"), "shingle")
    b = exploded.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    return (
        inter.join(sa, "doc_a")
        .withColumn("containment", F.round(F.col("inter") / F.col("na"), 4))
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )


def minhash_dedup_pairs(docs: DataFrame, threshold: float = 0.5,
                        id_col: str = "doc_id", text_col: str = "text",
                        hash_fn: str = "md5") -> DataFrame:
    """The full LSH near-dup pipeline: band-join candidates, then exact
    Jaccard verification at ``threshold``.  At scale this is the dedup path:
    the quadratic verify only runs on LSH survivors.

    One materialized signature+shingle table feeds all four plan references
    (two band-join sides, two verification sides) — previously each
    reference re-ran the tokenize→shingle→md5 chain over the corpus
    (4 parquet scans, measured 4.8s at sf0.1; this form ~2s).
    ``hash_fn='xxhash64'`` swaps the shingle hash for the JVM-native fast
    path (see _shingle_hash) — same verified output w.h.p., no oracle."""
    base = _sig_base(docs, id_col, text_col, keep_shingles=True,
                     materialize=True, hash_fn=hash_fn)
    bands = _band_rows(base, id_col)
    a = bands.select(F.col(id_col).alias("doc_a"), "band", "band_key")
    b = bands.select(F.col(id_col).alias("doc_b"), "band", "band_key")
    cands = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = base.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = base.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b"))
    return verify_pairs(cands.join(sa, "doc_a").join(sb, "doc_b"),
                        threshold, "mh_verify")


def verify_pairs(pairs: DataFrame, threshold: float, name: str,
                 a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """(a, b, jaccard) for candidate rows carrying their shingle arrays
    ``sh_a``/``sh_b`` — the one verify kernel of every near-dup pair path,
    applying the module's threshold contract ``round(J, 4) >= threshold``.

    The set sizes and intersection are computed ONCE per candidate behind
    a checkpoint named ``name``: a jaccard filter applied directly over
    the attach joins is pushed into the join CONDITION, so the array
    intersection would run twice per candidate row (condition +
    projection — the built-in analog of a duplicated UDF).  The
    checkpointed frame is |candidates| rows of ids and ints; the filter
    then runs on integers."""
    counts = materialize_once(
        pairs.select(
            a, b,
            F.size("sh_a").alias("na"), F.size("sh_b").alias("nb"),
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
        ),
        name,
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        counts.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select(a, b, "jaccard")
    )


def best_match(verified: DataFrame, new: str, old: str) -> DataFrame:
    """(new, old, jaccard): each ``new`` doc's best verified match — highest
    jaccard, ties to the lowest ``old`` id.  min_by over (-jaccard, old)
    needs no sort and keeps the tie-break in the id column's OWN ordering
    (negating the id arithmetically would cast a string id to double ->
    NULL and silently corrupt the match)."""
    return (
        verified.groupBy(new)
        .agg(F.min_by(
            F.struct(F.col(old).alias("oid"), F.col("jaccard")),
            F.struct((-F.col("jaccard")).alias("nj"),
                     F.col(old).alias("oid"))).alias("m"))
        .select(new, F.col("m.oid").alias(old),
                F.col("m.jaccard").alias("jaccard"))
    )


def dedup_against(new_docs: DataFrame, corpus_docs: DataFrame,
                  threshold: float = 0.5, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Incremental near-dedup: flag every NEW document that near-duplicates
    any EXISTING corpus document — the production shape where a fresh
    crawl batch lands against a corpus whose signatures are already
    materialized, and the corpus must never re-hash or self-join.

    Returns one row per new document: (id, is_dup, match_id, jaccard)
    with the best existing match (highest verified Jaccard, lowest
    existing id on ties) or NULLs when clean.

    Plan shape: both sides band independently (at scale the corpus side
    is a parquet-backed signature table, here materialize_once); the only
    cross-side contact is a band-key equi-join whose output is candidate
    pairs, then exact-Jaccard verification on survivors — identical cost
    envelope to one LSH round over the BATCH, independent of corpus size
    beyond the band join's hash lookup."""
    nb = _sig_base(new_docs, id_col, text_col, keep_shingles=True,
                   materialize=True)
    cb = _sig_base(corpus_docs, id_col, text_col, keep_shingles=True,
                   materialize=True)
    a = _band_rows(nb, id_col).select(
        F.col(id_col).alias("new_id"), "band", "band_key")
    b = _band_rows(cb, id_col).select(
        F.col(id_col).alias("old_id"), "band", "band_key")
    cands = a.join(b, ["band", "band_key"]).select("new_id", "old_id").distinct()

    sa = nb.select(F.col(id_col).alias("new_id"), F.col("shingles").alias("sh_a"))
    sb = cb.select(F.col(id_col).alias("old_id"), F.col("shingles").alias("sh_b"))
    verified = verify_pairs(cands.join(sa, "new_id").join(sb, "old_id"),
                            threshold, "da_verify", "new_id", "old_id")
    return _flag_new(new_docs, id_col, best_match(verified, "new_id", "old_id"))


def _flag_new(new_docs: DataFrame, id_col: str, best: DataFrame) -> DataFrame:
    """(id, is_dup, match_id, jaccard) for every new doc from its
    ``best_match`` row (NULL match when clean)."""
    return (
        new_docs.select(F.col(id_col).alias("new_id"))
        .join(best, "new_id", "left")
        .select(
            F.col("new_id").alias(id_col),
            F.col("old_id").isNotNull().alias("is_dup"),
            F.col("old_id").alias("match_id"),
            "jaccard",
        )
    )


def dedup_clusters(docs: DataFrame, pairs: DataFrame | None = None,
                   threshold: float = 0.5, id_col: str = "doc_id",
                   text_col: str = "text", max_iter: int = 20) -> DataFrame:
    """Near-dup cluster assignment: connected components over the verified
    near-dup pair graph.  Returns (id, cluster, is_keeper) for EVERY doc —
    cluster = min doc id in the component, keeper = the doc that survives
    "drop all but one per cluster" (the step a corpus-scale dedup actually
    executes after pair generation; pairs alone don't dedup a corpus).

    Algorithm: iterative min-label propagation over the symmetrized edge
    list — ``label ← min(label, neighbors' labels)`` until fixpoint.  Each
    round is one equi-join on doc id plus one groupBy-min (shuffles keyed
    on ids only; no wide rows move), with lineage truncated per round via
    ``materialize_once`` — without that, iterative plans nest exponentially.
    Rounds needed = component diameter; near-dup components are clique-ish
    (diameter ≤ 3 — every member shares an LSH band with most others), so
    this converges in 2-4 rounds.  For adversarially long chain graphs use
    the large-star/small-star variant (same join primitives, O(log n)
    rounds); the fixpoint check here is the monotone label-sum witness
    (one 1-row agg per round), never a full collect or compare-join.
    Singletons label themselves via the
    final left join — they never enter the propagation loop at all, so the
    iterated frames are bounded by 2·|pairs|, not corpus size."""
    if pairs is None:
        # 4 registry queries (clusters, dedup_stats, leakage_safe_split,
        # dedup_rate_by_source) run this identical LSH + min-label-CC
        # pipeline on the same corpus — build it once per session (r9,
        # ranker-cache policy; the result is a deterministic pure
        # function of (corpus, threshold): md5-banded signatures,
        # monotone label propagation to a fixpoint).  Caller-supplied
        # ``pairs`` bypasses the cache — the caller owns that graph.
        from nonconsumptive_spark.plans.ranker_cache import shared_frame

        return shared_frame(
            "dedup_clusters", (threshold, id_col, text_col, max_iter),
            (docs,),
            lambda: _dedup_clusters_build(
                docs, minhash_dedup_pairs(docs, threshold, id_col, text_col),
                id_col, max_iter),
        )
    return _dedup_clusters_build(docs, pairs, id_col, max_iter)


def _dedup_clusters_build(docs: DataFrame, pairs: DataFrame,
                          id_col: str, max_iter: int) -> DataFrame:
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    edges = materialize_once(sym, "cc_edges")
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id"))
    )
    # fixpoint witness: min-label propagation only ever DECREASES labels,
    # so sum(label) is strictly monotone until convergence — an unchanged
    # sum proves an unchanged assignment.  One 1-row agg per round
    # replaces the old full join + filter change-detector (the agg also
    # triggers the round's checkpoint, so rounds stay one action each).
    prev_sum = None
    for _ in range(max_iter):
        prop = edges.join(labels, edges["src"] == labels["id"]).select(
            F.col("dst").alias("id"), "label"
        )
        new = (
            labels.unionByName(prop)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        new = materialize_once(new, "cc_labels")
        cur_sum = new.agg(F.sum("label")).collect()[0][0]
        labels = new
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    out = docs.select(id_col).join(
        labels.withColumnRenamed("id", id_col), id_col, "left"
    )
    return out.select(
        id_col,
        F.coalesce("label", F.col(id_col)).alias("cluster"),
    ).withColumn("is_keeper", F.col("cluster") == F.col(id_col))


def canonical_docs(docs: DataFrame, pairs: DataFrame | None = None,
                   threshold: float = 0.5, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Quality-aware keeper selection: (id, cluster, n_tokens, canonical).

    ``dedup_clusters`` keeps the MIN-id member; a real curation pipeline
    keeps the BEST member — here the longest one (token count), the
    standard "near-dups are truncations/mirrors of one master copy"
    heuristic, with id as the deterministic tie-break.  Token count is an
    exact integer, so the choice replays bit-identically cross-engine.

    Scale shape: one cluster-keyed ``row_number`` window — clusters are
    near-dup components (bounded size by construction), so no partition
    ever sees more than one component; singletons are 1-row windows."""
    from pyspark.sql import Window

    from nonconsumptive_spark.functions.text import tokenize

    clusters = dedup_clusters(docs, pairs, threshold, id_col, text_col)
    lens = docs.select(
        id_col,
        F.size(tokenize(F.coalesce(F.col(text_col), F.lit(""))))
        .cast("long").alias("n_tokens"))  # NULL text = empty; long, to
    # match the oracle's BIGINT (the dtype-strict compare gate)
    w = Window.partitionBy("cluster").orderBy(
        F.desc("n_tokens"), F.asc(id_col)
    )
    return (
        clusters.join(lens, id_col)
        .withColumn("canonical", F.row_number().over(w) == 1)
        .select(id_col, "cluster", "n_tokens", "canonical")
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash: each token occurrence's md5 hash contributes ±1 per
    bit position; fingerprint bit j = 1 iff the summed weight is positive.
    (Occurrence weighting ≡ the count-weighted definition, since summing
    ±1 per occurrence equals cnt·(±1) per distinct token.)

    Single narrow pass, zero shuffles: per document the token hashes are
    computed once (``transform``), then one ``aggregate`` folds them into
    a 60-slot accumulator array whose signs become the fingerprint.  The
    earlier two-shuffle formulation (groupBy(doc,token) → 60-column agg)
    measured ~2.3s at sf0.1; this form is scan-speed."""
    # shiftleft/shiftright need int literals, so bit j is probed with a
    # precomputed powers-of-two array: bit set iff h & 2^j != 0.
    #
    # The tokenizer is deliberately evaluated TWICE per row (signature +
    # empty-doc guard): wrapping the whole expression in a `let`-bound
    # struct to share one evaluation measured 3x SLOWER at sf0.1
    # (0.64s -> 1.80s) — the outer let forces the heavy nested aggregate
    # subtree through interpreted HOF evaluation, costing far more than
    # one extra regex split.  `let` pays off when the DUPLICATED subtree
    # is the expensive one (shingle pipelines); here the duplicated part
    # is cheap and the wrapped part is hot.
    pow2 = F.array(*[F.lit(1 << j).cast("long") for j in range(60)])
    hs = F.transform(tokenize(text_col), lambda t: _md5_long(t))
    acc = F.aggregate(
        hs,
        F.array_repeat(F.lit(0).cast("long"), 60),
        lambda a, h: F.zip_with(
            a, pow2,
            lambda s, p: s + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
        ),
    )
    sig = F.aggregate(
        F.zip_with(
            acc, pow2,
            lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    return (
        docs.select(id_col, F.size(tokenize(text_col)).alias("__nt"), sig.alias("simhash"))
        .filter(F.col("__nt") > 0)  # empty docs have no signature (oracle parity)
        .drop("__nt")
    )


def _simhash_band_structs(sig_col, n_bands: int, total_bits: int = 60):
    """array<struct<band,band_val>>: the signature split into n_bands
    disjoint contiguous bit ranges (sizes differing by ≤1)."""
    base, rem = divmod(total_bits, n_bands)
    out, start = [], 0
    for b in range(n_bands):
        size = base + (1 if b < rem else 0)
        mask = (1 << size) - 1
        out.append(
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(sig_col, start)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
        )
        start += size
    return F.array(*out)


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 8,
                       id_col: str = "doc_id", text_col: str = "text",
                       banded: bool = True) -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ max_hamming.

    ``banded=True`` (default) is the scale path AND is exact: split the
    60-bit signature into ``max_hamming + 1`` disjoint bands — any pair
    within the Hamming budget differs in at most max_hamming bit
    positions, so by pigeonhole at least one band is untouched and the
    pair meets in that band's equi-join.  Candidate generation is a
    shuffle keyed on (band, band_val) instead of an O(n²) cross join;
    every candidate is then verified with the full XOR+popcount, so no
    false positives either.  ``banded=False`` keeps the cross-join form
    (used by tests as an independent cross-check; the DuckDB oracle is
    also the cross-join formulation).

    Crossover note (measured): at sf0.1 (5k docs) the cross join is
    actually faster (0.8s vs 1.4s — 12.5M vectorized long comparisons
    beat an explode+shuffle+distinct); banded wins as soon as n² stops
    fitting, which is the only regime that matters at corpus scale."""
    sig = materialize_once(simhash(docs, id_col, text_col), "simhash_sig")
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long")
    if not banded:
        a = sig.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"))
        b = sig.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"))
        return (
            a.crossJoin(b)
            .filter(F.col("doc_a") < F.col("doc_b"))
            .withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming")
        )
    n_bands = max_hamming + 1
    bands = sig.select(
        id_col, "simhash",
        F.explode(_simhash_band_structs(F.col("simhash"), n_bands)).alias("bk"),
    ).select(id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.band_val").alias("band_val"))
    a = bands.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"),
                     "band", "band_val")
    b = bands.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"),
                     "band", "band_val")
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Sub-document dedup: exact repeated-span removal (the "dedup training data
# at the substring level" operation — flag n-gram spans that recur across
# >= min_docs distinct documents and strip every token they cover).
# Reference-adjacent: the reference dedups whole documents only
# (metadata.py:320-333 id dedup); span-level removal is the standard
# extension for LLM corpora where boilerplate repeats inside otherwise
# unique pages.
# ---------------------------------------------------------------------------
def _ws_tokens_with_pos(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, token) over WHITESPACE tokens (1-based pos) — whitespace
    tokenization (not the letters-only `tokenize`) so the cleaned text is a
    faithful re-join of the surviving tokens."""
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit(""))
    return docs.select(
        id_col, F.posexplode(toks).alias("pos0", "token")
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "token")


def repeated_spans(docs: DataFrame, n: int = 5, min_docs: int = 2,
                   id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, start, gram) for every n-token span whose gram text occurs in
    >= ``min_docs`` distinct documents.  Gram construction is in-row (one
    `let`-bound token array, no per-gram shuffle); the only wide stage is
    the count-distinct-docs aggregation on the gram key, which partial-
    aggregates map-side.  The flagged-gram set joins back onto the
    occurrence stream WITHOUT a broadcast hint: in the boilerplate-heavy
    corpora this operator targets, the flagged set grows with corpus size
    (a forced broadcast would OOM the driver) — AQE downgrades the
    equi-join to broadcast at runtime when it is in fact small."""
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit(""))

    def gram_structs(t):
        grams = F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.struct(
                i.alias("start"),
                F.concat_ws(
                    " ", *[F.element_at(t, i + j) for j in range(n)]
                ).alias("gram"),
            ),
        )
        return F.when(F.size(t) >= n, grams).otherwise(F.array())

    occ = docs.select(
        id_col, F.explode(let(toks, gram_structs)).alias("g")
    ).select(id_col, F.col("g.start").alias("start"), F.col("g.gram").alias("gram"))

    flagged = (
        occ.groupBy("gram")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gram")
    )
    return occ.join(flagged, "gram").select(id_col, "start", "gram")


def remove_repeated_spans(docs: DataFrame, n: int = 5, min_docs: int = 2,
                          id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Strip every token covered by a repeated n-gram span; returns
    (id, n_tokens_removed, clean_text) for every input document (docs with
    nothing removed pass through verbatim, re-joined on single spaces).

    Plan shape: span flagging as in :func:`repeated_spans`; covered
    positions come from exploding ``sequence(start, start+n-1)`` and the
    surviving tokens from a broadcast-fed anti-join on (id, pos); the final
    per-document reassembly is the one unavoidable full shuffle (group by
    id), the same cost class as any tokenize-regroup stage."""
    spans = repeated_spans(docs, n=n, min_docs=min_docs,
                           id_col=id_col, text_col=text_col)
    covered = spans.select(
        id_col,
        F.explode(F.sequence(F.col("start"), F.col("start") + (n - 1))).alias("pos"),
    ).distinct()

    kept = _ws_tokens_with_pos(docs, id_col, text_col).join(
        covered, [id_col, "pos"], "left_anti"
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda s: s["token"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    n_toks = F.size(F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
        lambda x: x != F.lit("")))  # NULL text = empty
    return (
        docs.select(id_col, n_toks.cast("long").alias("n_tokens"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long").alias("n_tokens_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood method (SNM) — the classic record-linkage dedup
# family (Hernandez & Stolfo 1995): sort the corpus by a blocking key so
# similar records land near each other, then compare only rows within a
# sliding rank window.  Complements LSH: no hashing assumptions, candidate
# count is corpus_size × (window-1) by construction, and the sort key can
# encode domain knowledge (here: the doc's rarest-prefix token signature).
# ---------------------------------------------------------------------------
SNM_WINDOW = 4
SNM_KEY_TOKENS = 4


def snm_key(text_col, n_tokens: int = SNM_KEY_TOKENS):
    """Blocking key: the first ``n_tokens`` of the doc's SORTED distinct
    token set, joined by spaces.  Near-duplicate docs share most tokens,
    so their sorted prefixes — and hence sort positions — coincide."""
    return F.array_join(
        F.slice(F.array_sort(F.array_distinct(tokenize(text_col))),
                1, n_tokens),
        " ",
    )


def snm_pairs(docs: DataFrame, window: int = SNM_WINDOW,
              threshold: float = 0.5, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """(doc_a, doc_b, jaccard): exact shingle-Jaccard ≥ threshold over
    pairs within ``window`` positions of each other in blocking-key
    order (doc_a ranks before doc_b).

    Scale shape: the rank comes from ``assign_dense_ids`` (range
    partition + local sort + per-partition offsets — never a global
    single-partition sort), and the rank-distance self-join is realized
    as TWO equi-joins on the rank bucket ``rank DIV window`` (same
    bucket + adjacent bucket, then the |Δrank| < window filter): every
    candidate pair shares a bucket key, so Catalyst shuffles on a short
    integer — the sorted corpus never cross-joins.  Verification reuses
    the materialized shingle table on both sides."""
    from nonconsumptive_spark.sources.readers import assign_dense_ids

    sh = materialize_once(
        docs.select(
            id_col,
            snm_key(text_col).alias("__key"),
            shingle_array(tokenize(text_col)).alias("shingles"),
        ).filter(F.size("shingles") > 0),
        "snm_shingles",
    )
    ranked = assign_dense_ids(
        sh.select(id_col, "__key", "shingles"),
        ["__key", id_col], id_name="rnk",
    ).withColumn("bkt", (F.col("rnk") / window).cast("long"))

    a = ranked.select(F.col(id_col).alias("doc_a"), F.col("rnk").alias("ra"),
                      F.col("bkt").alias("ba"), F.col("shingles").alias("sh_a"))
    b = ranked.select(F.col(id_col).alias("doc_b"), F.col("rnk").alias("rb"),
                      F.col("bkt").alias("bb"), F.col("shingles").alias("sh_b"))
    same = a.join(b, a["ba"] == b["bb"])
    nxt = a.join(b, a["ba"] + 1 == b["bb"])
    cands = (
        same.unionByName(nxt)
        .filter((F.col("rb") > F.col("ra"))
                & (F.col("rb") - F.col("ra") < window))
    )
    return verify_pairs(cands, threshold, "snm_verify")


def _threshold_fraction(threshold) -> tuple[int, int]:
    """threshold as an exact rational (p, q): the persisted PPJoin index
    meta, and the form every pruning bound is derived from (never the
    float)."""
    frac = Fraction(threshold).limit_denominator(1_000_000)
    return frac.numerator, frac.denominator


def _prune_fraction(threshold) -> tuple[int, int]:
    """(p, q) = t - 1/20000 as an exact rational, floored at 0: the
    smallest true Jaccard that ``round(J, 4)`` lifts to t.  Every PPJoin
    pruning bound uses this, so pruning is conservative to the rounded
    output contract (see the module docstring)."""
    frac = max(Fraction(*_threshold_fraction(threshold)) - Fraction(1, 20_000),
               Fraction(0))
    return frac.numerator, frac.denominator


def _ceil_div(a, q: int):
    """ceil over BIGINT columns with NO rounding exposure: a - a%q is an
    exact multiple of q, so the one double division is exact (integer
    result, representable) for a < 2^53 — far beyond any real shingle
    count times a pruning numerator (9999 at t = 0.5)."""
    num = a + F.lit(q - 1)
    return ((num - num % F.lit(q)) / F.lit(q)).cast("long")


def _ceil_mul(x, tp: int, tq: int):
    """ceil(tp/tq * x) from the exact rational (tp, tq)."""
    return _ceil_div(F.lit(tp) * x, tq)


def ppjoin_pairs(docs: DataFrame, threshold: float = 0.5,
                 id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact all-pairs shingle Jaccard ≥ threshold via PREFIX FILTERING
    (PPJoin family, Xiao et al. 2008) — same result set as jaccard_pairs,
    different candidate generator.

    With shingles ordered globally by (document frequency asc, shingle
    asc), any pair with Jaccard ≥ t must have overlap ≥ ceil(t·n) on each
    side (J = o/(na+nb-o) ≥ t and nb ≥ o imply o ≥ t·na, symmetrically
    t·nb), so the first ``n - ceil(t·n) + 1`` shingles of each doc — its
    RAREST ones — must intersect the partner's prefix.  Candidates are
    therefore the equi-join of PREFIX rows only, plus the length filter
    t·na ≤ nb ≤ na/t; verification counts intersections only for
    candidate pairs.

    vs jaccard_pairs (full shingle equi-join): the join fan-out on a
    frequent shingle is df², so skewed shingle distributions blow the
    naive join up; prefixes are rare-first, capping per-shingle fan-out.
    vs MinHash/LSH: exact — no recall loss, no signature tuning.

    Plan: one df agg (shingle-vocab sized), one per-doc rank window
    (PARTITIONED by doc), prefix self-join on the shingle key, then a
    candidate-bounded verify join.  Nothing quadratic in the corpus."""
    # All filter bounds use EXACT RATIONAL arithmetic on the pruning
    # fraction p/q = t - 1/20000 (_prune_fraction): float expressions like
    # ceil(0.2 * na) overstate the ceiling when the binary float sits above
    # the decimal (0.2*5 -> 1.0000000000000002 -> ceil 2 instead of 1),
    # which would shorten prefixes / tighten filters and silently DROP
    # qualifying pairs.
    pp, pq = _prune_fraction(threshold)
    sh = materialize_once(doc_shingles(docs, id_col, text_col), "pp_shingles")
    exploded = sh.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    exploded = materialize_once(exploded, "pp_exploded")
    sizes = sh.select(F.col(id_col), F.size("shingles").cast("long").alias("n"))

    # df comes from a count-window over the exploded frame itself (one
    # keyed exchange) rather than a groupBy + join-back (two exchanges of
    # the same string-keyed table) — r8, guide §2.3; the incremental path
    # still passes its corpus dfreq as the order authority (join form).
    # The prefix frame feeds BOTH sides of the candidate self-join below;
    # without a checkpoint Spark re-executes the count-window + rank-window
    # pipeline once per side (4 Window nodes in the plan).
    prefix = materialize_once(
        _pp_rank_prefix(exploded, None, sizes, id_col, pp, pq), "pp_prefix"
    )

    pa = prefix.select(F.col(id_col).alias("doc_a"), "shingle",
                       F.col("n").alias("na"), F.col("pos").alias("pa"))
    pb = prefix.select(F.col(id_col).alias("doc_b"), "shingle",
                       F.col("n").alias("nb"), F.col("pos").alias("pb"))
    # positional filter (PPJoin proper): a shared prefix shingle at
    # positions (pa, pb) bounds the best possible overlap by the shorter
    # remaining suffix + 1; pairs that cannot reach the Jaccard-implied
    # overlap floor ceil(t·(na+nb)/(1+t)) are dropped BEFORE the
    # deduplicating distinct — the filter is per-joined-row, so it also
    # shrinks the distinct's shuffle.  The floor is exact integer
    # arithmetic too: ceil(p·(na+nb)/(p+q)).
    nanb = F.col("na") + F.col("nb")
    overlap_floor = _ceil_div(F.lit(pp) * nanb, pp + pq)
    best_overlap = F.least(F.col("na") - F.col("pa"),
                           F.col("nb") - F.col("pb")) + 1
    # Aggregated positional bound (PPJoin's running-overlap filter, in
    # set form): per surviving pair, c = number of shared prefix shingles
    # that passed the per-row filter and (mpa, mpb) the LAST one's
    # positions.  Both docs list shingles in the SAME global order, so
    # shared shingles appear in the same relative order on both sides and
    # the per-row bound is non-increasing along them — survivors are
    # always a PREFIX of the pair's shared-shingle sequence.  Hence c
    # counts exactly the shared shingles up to (mpa, mpb), every further
    # shared shingle sits after BOTH positions, and
    # o <= c + min(na - mpa, nb - mpb).  Pairs below the overlap floor
    # are provably sub-threshold — the filter only removes pairs the
    # verify would reject.  The groupBy rides the exact shuffle the old
    # .distinct() already paid; vs the any-row bound it is strictly
    # tighter (equality only when c = 1).
    cands = (
        pa.join(pb, "shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("nb") >= _ceil_mul(F.col("na"), pp, pq))
            & (F.col("na") >= _ceil_mul(F.col("nb"), pp, pq))
            & (best_overlap >= overlap_floor)
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("_c"),
             F.max("pa").alias("_mpa"), F.max("pb").alias("_mpb"))
        .filter(
            F.col("_c")
            + F.least(F.col("na") - F.col("_mpa"),
                      F.col("nb") - F.col("_mpb"))
            >= _ceil_div(F.lit(pp) * (F.col("na") + F.col("nb")), pp + pq)
        )
        .select("doc_a", "doc_b")
    )

    # verify IN-ROW: join each candidate to the two full shingle ARRAYS
    # and intersect inside the row (A/B vs exploding candidates against
    # the shingle table: 2.80s vs 2.97s warm on materialized candidates
    # at sf0.1 — a wash on this data; the in-row form is kept because it
    # adds no |candidates| x |doc| intermediate rows, which is the term
    # that grows with document size at production scale)
    arr_a = sh.select(F.col(id_col).alias("doc_a"),
                      F.col("shingles").alias("sh_a"))
    arr_b = sh.select(F.col(id_col).alias("doc_b"),
                      F.col("shingles").alias("sh_b"))
    return verify_pairs(cands.join(arr_a, "doc_a").join(arr_b, "doc_b"),
                        threshold, "pp_verify")


def _pp_rank_prefix(exploded: DataFrame, dfreq: DataFrame | None,
                    sizes: DataFrame, id_col: str, tp: int, tq: int) -> DataFrame:
    """(id, shingle, n, pos) prefix rows under the (df asc, shingle asc)
    global order — shared by the one-shot ppjoin and the persisted-index
    incremental path.  ``dfreq`` is the ORDER AUTHORITY: the incremental
    path passes the corpus's df table so batch and corpus prefixes agree
    on one total order (batch-only shingles left-join to df NULL and
    coalesce to 0 — unseen means rarest, which keeps the order total and
    consistent).  ``dfreq=None`` means self-frequency: df is a
    count-window over ``exploded`` itself — one keyed exchange instead
    of the groupBy + join-back pair, identical rows (r8)."""
    from pyspark.sql.window import Window

    if dfreq is None:
        with_df = exploded.withColumn(
            "df", F.count("*").over(Window.partitionBy("shingle")))
    else:
        with_df = exploded.join(dfreq, "shingle", "left").na.fill({"df": 0})
    w = Window.partitionBy(id_col).orderBy(F.asc("df"), F.asc("shingle"))
    ranked = (
        with_df
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .join(sizes, id_col)
    )
    prefix_len = F.col("n") - _ceil_mul(F.col("n"), tp, tq) + 1
    return ranked.filter(F.col("pos") <= prefix_len).select(
        id_col, "shingle", "n", "pos")


def ppjoin_index_write(docs: DataFrame, index_dir: str,
                       threshold: float = 0.5, id_col: str = "doc_id",
                       text_col: str = "text",
                       compression: str = "zstd") -> None:
    """Persist the exact-dedup prefix index for a signed corpus: the
    shingle ARRAYS (verification side), the df table (the global order
    authority), and the corpus PREFIX rows.  A later ``ppjoin_against``
    call never re-tokenizes, re-shingles, or re-ranks the corpus — the
    per-batch cost is independent of corpus size except for the one
    prefix equi-join."""
    tp, tq = _threshold_fraction(threshold)
    sh = materialize_once(doc_shingles(docs, id_col, text_col), "ppw_sh")
    exploded = sh.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    sizes = sh.select(F.col(id_col), F.size("shingles").cast("long").alias("n"))
    dfreq = exploded.groupBy("shingle").agg(F.count("*").alias("df"))
    dfreq = materialize_once(dfreq, "ppw_df")
    prefix = _pp_rank_prefix(exploded, dfreq, sizes, id_col,
                             *_prune_fraction(threshold))

    opts = {"compression": compression}
    sh.write.mode("overwrite").options(**opts).parquet(f"{index_dir}/arrays")
    dfreq.write.mode("overwrite").options(**opts).parquet(f"{index_dir}/dfreq")
    prefix.write.mode("overwrite").options(**opts).parquet(f"{index_dir}/prefix")
    # the prefix rows are THRESHOLD-DEPENDENT: persist (tp, tq) so reads
    # can refuse a mismatched threshold instead of silently losing recall
    spark = docs.sparkSession
    (spark.createDataFrame([(tp, tq)], "tp int, tq int")
     .coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/meta"))


def ppjoin_against(batch: DataFrame, index_dir: str,
                   threshold: float | None = None,
                   id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, is_dup, match_id, jaccard): EXACT incremental near-dedup of a
    fresh batch against a corpus indexed by ``ppjoin_index_write`` — the
    exact counterpart of the MinHash ``dedup_against`` (no recall loss).

    Both sides' prefixes are defined w.r.t. the CORPUS's df order (see
    _pp_rank_prefix), so the prefix-intersection theorem holds for every
    cross pair; candidates = prefix equi-join + length filter, verified
    in-row on the stored arrays.  Best match per batch doc breaks ties
    (jaccard desc, corpus id asc)."""
    spark = batch.sparkSession
    meta = spark.read.parquet(f"{index_dir}/meta").collect()[0]
    tp, tq = meta["tp"], meta["tq"]
    if threshold is not None and _threshold_fraction(threshold) != (tp, tq):
        raise ValueError(
            f"ppjoin_against: index at {index_dir} was written for "
            f"threshold {tp}/{tq}; its prefix rows are too short for "
            f"{threshold} — rewrite the index or pass threshold=None "
            f"to use the indexed threshold")
    idx_arrays = spark.read.parquet(f"{index_dir}/arrays")
    idx_dfreq = spark.read.parquet(f"{index_dir}/dfreq")
    idx_prefix = spark.read.parquet(f"{index_dir}/prefix")

    bsh = materialize_once(doc_shingles(batch, id_col, text_col), "ppa_sh")
    bexp = bsh.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    bsizes = bsh.select(F.col(id_col), F.size("shingles").cast("long").alias("n"))
    # the indexed threshold governs (threshold=None is valid)
    pp, pq = _prune_fraction(Fraction(tp, tq))
    bprefix = _pp_rank_prefix(bexp, idx_dfreq, bsizes, id_col, pp, pq)

    pa = bprefix.select(F.col(id_col).alias("new_id"), "shingle",
                        F.col("n").alias("na"))
    pb = idx_prefix.select(F.col(id_col).alias("old_id"), "shingle",
                           F.col("n").alias("nb"))
    cands = (
        pa.join(pb, "shingle")
        .filter((F.col("nb") >= _ceil_mul(F.col("na"), pp, pq))
                & (F.col("na") >= _ceil_mul(F.col("nb"), pp, pq)))
        .select("new_id", "old_id")
        .distinct()
    )
    arr_a = bsh.select(F.col(id_col).alias("new_id"),
                       F.col("shingles").alias("sh_a"))
    arr_b = idx_arrays.select(F.col(id_col).alias("old_id"),
                              F.col("shingles").alias("sh_b"))
    verified = verify_pairs(cands.join(arr_a, "new_id").join(arr_b, "old_id"),
                            tp / tq, "ppa_verify", "new_id", "old_id")
    return _flag_new(batch, id_col, best_match(verified, "new_id", "old_id"))


def lsh_tune(threshold: float, n_perm: int = N_HASHES,
             fp_weight: float = 0.5) -> tuple[int, int]:
    """(bands, rows): the banding that best approximates a step at
    ``threshold`` — minimizes the weighted integral of false-positive
    area (below threshold) and false-negative area (above) under the
    S-curve P(candidate | s) = 1 - (1 - s^rows)^bands, over all exact
    factorizations bands*rows = n_perm (the datasketch optimization,
    computed here with a 1e-3 midpoint grid).

    Pure driver-side arithmetic — call it once when configuring
    minhash_signatures/lsh_candidates for a non-default threshold
    instead of hand-picking bands."""
    best, best_err = None, float("inf")
    for rows in range(1, n_perm + 1):
        if n_perm % rows:
            continue
        bands = n_perm // rows
        fp = fn = 0.0
        steps = 1000
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s ** rows) ** bands
            if s < threshold:
                fp += p / steps
            else:
                fn += (1.0 - p) / steps
        err = fp_weight * fp + (1.0 - fp_weight) * fn
        if err < best_err:
            best, best_err = (bands, rows), err
    return best


# --------------------------------------------------------------------------
# Bloom-filter membership pre-filter (MassiveText/Gopher-style): the corpus
# signs its shingles into an m-bit filter; a fresh batch probes it to cheaply
# estimate per-doc overlap/novelty before any expensive dedup join.  The
# exact-membership audit (n_true_hits) makes the false-positive behavior a
# verifiable output rather than a hidden error term — same self-evaluation
# shape as q_lsh_dedup_recall.
BLOOM_M = 65_536  # filter bits
BLOOM_K = 3       # probes per key


def _bloom_pos(col, i: int, m: int):
    """Probe i's bit position for a key — engine-portable md5 arithmetic."""
    return _md5_long(F.concat(F.lit(f"{i}:"), col)) % m


def bloom_shingle_novelty(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", m: int = BLOOM_M,
                          k: int = BLOOM_K, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, n_shingles, n_bloom_hits, n_true_hits, n_false_pos) for every
    batch doc (odd ids) probed against a Bloom filter signed by the corpus
    (even ids) over distinct token shingles.

    A shingle "hits" iff ALL k of its md5-derived bit positions are set.
    n_true_hits is the exact-membership audit; n_false_pos = bloom hits the
    exact check rejects (the filter's one-sided error, never misses).

    Plan shape (100 TB): the filter is represented as the DISTINCT set of
    set bit positions — <= m rows regardless of corpus size — so the probe
    join broadcasts the filter, exactly like shipping the bitset to every
    executor.  Corpus-side signing is one distinct-shingle agg + a k-way
    in-row fan-out.  The exact audit joins on the shingle short key; in
    production that join is what the Bloom probe AVOIDS (it runs here as
    the self-evaluation, the same way the LSH recall query replays exact
    Jaccard).  Sizing: m tracks distinct corpus keys (~10 bits/key for
    ~1% FP) and the filter stays a bounded broadcast."""
    sh = doc_shingles(docs, id_col, text_col, n).select(
        id_col, F.explode("shingles").alias("shingle")
    )
    corpus_set = materialize_once(
        sh.filter(F.col(id_col) % 2 == 0).select("shingle").distinct(),
        "bloom_corpus_shingles",
    )
    batch = sh.filter(F.col(id_col) % 2 == 1)

    probes = F.array(*[_bloom_pos(F.col("shingle"), i, m) for i in range(k)])
    bits = materialize_once(
        corpus_set.select(F.explode(probes).alias("pos"))
        .distinct()
        .withColumn("hit", F.lit(1)),
        "bloom_bits",
    )
    # Probe the k positions with k broadcast left joins AND'ed in-row
    # (r8, guide §2.1): the old explode -> broadcast join ->
    # groupBy(id, shingle) AND-reduction shuffled the k-fanned batch
    # stream on the (id, 32-char shingle) key just to re-collapse it.
    # bits is materialized (<= m rows) so the k tiny broadcasts read the
    # checkpoint rather than re-running the corpus-side distinct.
    flagged = batch.select(
        id_col, "shingle",
        *[_bloom_pos(F.col("shingle"), i, m).alias(f"p{i}") for i in range(k)])
    for i in range(k):
        b = bits.select(F.col("pos").alias(f"p{i}"),
                        F.col("hit").alias(f"h{i}"))
        flagged = flagged.join(F.broadcast(b), f"p{i}", "left")
    all_hit = None
    for i in range(k):
        h = F.col(f"h{i}").isNotNull()
        all_hit = h if all_hit is None else (all_hit & h)
    shingle_flags = (
        flagged.select(id_col, "shingle", all_hit.alias("bloom_hit"))
        .join(corpus_set.withColumn("in_corpus", F.lit(1)), "shingle", "left")
        .select(
            id_col, "bloom_hit",
            F.col("in_corpus").isNotNull().alias("true_hit"),
        )
    )
    agg = shingle_flags.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum(F.col("bloom_hit").cast("long")).cast("long").alias("n_bloom_hits"),
        F.sum(F.col("true_hit").cast("long")).cast("long").alias("n_true_hits"),
        F.sum((F.col("bloom_hit") & ~F.col("true_hit")).cast("long"))
         .cast("long").alias("n_false_pos"),
    )
    spine = docs.filter(F.col(id_col) % 2 == 1).select(id_col)
    return spine.join(agg, id_col, "left").select(
        id_col,
        F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
        F.coalesce("n_bloom_hits", F.lit(0)).cast("long").alias("n_bloom_hits"),
        F.coalesce("n_true_hits", F.lit(0)).cast("long").alias("n_true_hits"),
        F.coalesce("n_false_pos", F.lit(0)).cast("long").alias("n_false_pos"),
    )


# --------------------------------------------------------------------------
# Edit-distance fuzzy dedup: LSH candidates verified by character-level
# Levenshtein on normalized text — catches OCR noise / typo-level mutation
# where token-shingle Jaccard degrades.  Both engines implement classic
# Wagner–Fischer edit distance natively, so the verify is an exact integer.
LEV_REL_DEN = 5  # dup iff 5 * lev <= max(len_a, len_b), i.e. lev <= 20%


def edit_distance_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """(doc_a, doc_b, lev, is_dup) for every LSH candidate pair, verified
    by Levenshtein distance over fingerprint-normalized text (lowercased,
    non-letters collapsed); is_dup is the pure integer inequality
    ``LEV_REL_DEN * lev <= greatest(len_a, len_b)``.

    Plan shape (100 TB): candidate generation is the banded minhash
    equi-join (never all-pairs); the O(|a|·|b|) Levenshtein DP runs ONLY
    on band survivors, joined to normalized text by id — the same
    survivor-only-verify discipline as the Jaccard pipeline.  All outputs
    exact integers/booleans."""
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), r"[^\p{L}]+", " ")
    )
    texts = docs.select(F.col(id_col), norm.alias("nt"))
    cands = lsh_candidate_pairs(docs, id_col, text_col)
    ta = texts.select(F.col(id_col).alias("doc_a"), F.col("nt").alias("ta"))
    tb = texts.select(F.col(id_col).alias("doc_b"), F.col("nt").alias("tb"))
    lev = F.levenshtein("ta", "tb").cast("long")
    return (
        cands.join(ta, "doc_a").join(tb, "doc_b")
        .select(
            "doc_a", "doc_b", lev.alias("lev"),
            (F.lit(LEV_REL_DEN) * lev
             <= F.greatest(F.length("ta"), F.length("tb")).cast("long"))
            .alias("is_dup"),
        )
    )


def cluster_capped_sample(docs: DataFrame, cap: int = 2,
                          threshold: float = 0.5,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Near-dup-aware sampling: keep at most ``cap`` documents per
    near-duplicate cluster, selected by md5 rank (id tie-break) —
    (id, cluster, rk).  Sits between full dedup (canonical_docs keeps
    exactly one) and no dedup: training-data mixes often WANT bounded
    repetition of popular templates rather than total removal (the
    "keep a few copies" finding in dedup ablations).

    Composition of existing verified pieces: LSH cluster assignment
    (dedup_clusters — band-join candidates, min-label components), then
    one cluster-partitioned window rank.  The window shuffles (id,
    cluster, hash) triples only; cluster cardinality ≫ partitions at
    scale, so no single-partition serialization."""
    from pyspark.sql import Window

    clusters = dedup_clusters(docs, threshold=threshold)
    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy("cluster").orderBy(h.asc(), F.col(id_col).asc())
    return (
        clusters.select(id_col, "cluster")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= cap)
    )
