"""CorpusSession: the user-facing object binding a text source, a metadata
catalog, and a checkpoint cache — the Spark rendering of the reference's
``Corpus`` (``corpus.py:34-120``) with its three source combinations:

    texts-folder + catalog file | texts-folder only (synthesized catalog) |
    pre-partitioned parquet bookstacks

The transform registry mirrors the reference's named-reservoir DAG
(``transformations.py:385-399``): each transform is a ``DataFrame →
DataFrame`` function; ``run(name)`` resolves the chain, applies the
checkpoint policy per node, and returns a lazy DataFrame.

Concurrency and laziness (stated here once):

  * ``build(targets)`` runs every target's ``run`` on its own Python
    thread, so independent targets' Spark jobs overlap — the counterpart
    of the reference packing stacks onto subprocess ``Corpus`` clones
    (corpus.py:363-379).  A shared upstream is written once: the
    checkpoint cache serializes each name behind its own lock, and the
    threads that wait read the checkpoint the first one wrote.
  * the metadata catalog is read, inferred, checked for duplicate ids and
    joined to the documents on first use (the ``catalog`` transform,
    ``column_plans``, ``export_catalog``, ``document``), not in the
    constructor — building text features launches no catalog job, and a
    duplicate-id catalog raises when something first reads it.
"""

from __future__ import annotations

import hashlib
from concurrent.futures import ThreadPoolExecutor
from functools import cached_property
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from nonconsumptive_spark.functions.embeddings import (
    srp_bits,
    srp_bits_tokens,
    srp_embed_tokens,
)
from nonconsumptive_spark.functions.text import tokenize
from nonconsumptive_spark.operators import wordcount as wc
from nonconsumptive_spark.plans.checkpoint import CheckpointCache
from nonconsumptive_spark.sources import readers
from nonconsumptive_spark.sources.inference import (
    apply_plans,
    check_unique_ids,
    infer_column_plans,
)

DEFAULT_STACK_SIZE = 2 ** 16  # docs per bookstack, reference corpus.py:40


def _ts():
    from nonconsumptive_spark.operators import textstats

    return textstats


def _retrieval():
    from nonconsumptive_spark.operators import retrieval

    return retrieval


def _dedup():
    from nonconsumptive_spark.operators import dedup

    return dedup


class CorpusSession:
    def __init__(
        self,
        spark: SparkSession,
        texts: str | None = None,
        metadata: str | None = None,
        bookstacks: str | None = None,
        cache_dir: str | Path | None = None,
        cache_set: set[str] | None = None,
        text_format: str = "txt",
        stack_size: int = DEFAULT_STACK_SIZE,
        id_field: str | None = None,
    ):
        if not (texts or bookstacks):
            raise ValueError("need texts folder or bookstacks dir")
        self.spark = spark
        self.stack_size = stack_size
        self.cache = CheckpointCache(
            cache_dir or Path(texts or bookstacks).parent / "nc_cache",
            cache_set or set(),
        )
        self._fingerprint = self._source_fingerprint(texts or bookstacks, metadata)

        if bookstacks:
            docs = readers.read_parquet_bookstacks(spark, bookstacks)
        else:
            docs = readers.read_text_folder(spark, texts, fmt=text_format)
            docs = docs.withColumn(
                "stack", F.expr(f"`nc:id` div {stack_size}").cast("int")
            )
        self._docs = docs
        self._metadata = metadata
        self._id_field = id_field

    @cached_property
    def _catalog_and_plans(self) -> tuple[DataFrame, list]:
        """(catalog joined to the documents' ids, column plans), computed on
        first use; raises ValueError on a duplicate catalog id."""
        ids = self._docs.select("@id", "nc:id", "stack")
        if not self._metadata:
            # no metadata ⇒ @id-only catalog from the source (reference
            # corpus.py:91-96, metadata.py:33-35)
            return ids, []
        raw = readers.read_catalog(self.spark, self._metadata)
        plans = infer_column_plans(raw, id_field=self._id_field)
        cat = apply_plans(raw, plans)
        check_unique_ids(cat)
        return cat.join(ids, "@id", "left"), plans

    @property
    def column_plans(self) -> list:
        return self._catalog_and_plans[1]

    @staticmethod
    def _source_fingerprint(*paths: str | None) -> str:
        h = hashlib.md5()
        for p in paths:
            if not p:
                continue
            pp = Path(p)
            entries = sorted(pp.rglob("*")) if pp.is_dir() else [pp]
            for e in entries:
                if e.is_file():
                    st = e.stat()
                    # fingerprint the path RELATIVE to the source root, not
                    # the basename: moving a file between subdirectories
                    # changes rglob order — and therefore nc:id — with
                    # size/mtime preserved, and two same-named files in
                    # different subdirs must not conflate
                    rel = e.relative_to(pp) if pp.is_dir() else e.name
                    h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns}".encode())
        return h.hexdigest()

    # -- the named-transform DAG ------------------------------------------
    # Every node consumes its upstream THROUGH self.run(), so a cached
    # upstream materializes exactly once and is replayed by all consumers —
    # the reference's Reservoir tee semantics (data_storage.py:154-161).
    # A node reads the tokenization directly where an intermediate node
    # would only lengthen its chain: total_wordcounts counts tokens beside
    # unigrams rather than after it, and srp_bits embeds and packs in one
    # pass unless srp itself is cached.
    def _transforms(self) -> dict[str, Callable[[], DataFrame]]:
        docs = self._docs
        tcol = readers.TEXT_COL

        def ngrams(n):
            return lambda: wc.ngram_counts_from_tokens(self.run("tokenization"), n)

        return {
            "documents": lambda: docs,
            "catalog": lambda: self._catalog_and_plans[0],
            "tokenization": lambda: docs.select(
                "@id", "nc:id", tokenize(tcol).alias("tokenization")
            ),
            # NULL text counts as empty, as in wc.document_lengths: array_size
            # is NULL (not size's legacy -1) for a NULL array
            "document_lengths": lambda: self.run("tokenization").select(
                "nc:id", F.coalesce(F.array_size("tokenization"), F.lit(0))
                .cast("long").alias("nwords")
            ),
            "unigrams": lambda: wc.token_counts_from_tokens(self.run("tokenization")),
            "bigrams": ngrams(2),
            "trigrams": ngrams(3),
            "quadgrams": ngrams(4),
            # the query path's vocabulary (exact A3 counts, wc.rank_vocab)
            "total_wordcounts": lambda: wc.vocabulary(
                self.run("tokenization"), tokens_col="tokenization"),
            "encoded_unigrams": lambda: self.run("unigrams").join(
                F.broadcast(self.run("total_wordcounts").select("token", "wordid")),
                "token", "inner",
            ).select("nc:id", "wordid", "count"),
            "srp": lambda: srp_embed_tokens(
                self.run("tokenization").select("nc:id", "tokenization")),
            # a cached srp replays from its checkpoint instead of
            # re-embedding every document; otherwise one Python pass over
            # the tokenization embeds and packs, with no float vectors
            # between two passes
            "srp_bits": lambda: (
                srp_bits(self.run("srp"), id_col="nc:id")
                if "srp" in self.cache.cache_set
                else srp_bits_tokens(
                    self.run("tokenization").select("nc:id", "tokenization"))),
            # curation extensions as named transforms — the LLM-pipeline
            # surface a user reaches through the same DAG/cache machinery
            # as the reference-parity nodes
            "quality": lambda: _ts().quality_score(docs, "nc:id", tcol),
            "lang_id": lambda: _ts().lang_id(docs, "nc:id", tcol),
            "fingerprints": lambda: _ts().fingerprint(docs, "nc:id", tcol),
            "winnow": lambda: _ts().winnow_fingerprints(
                docs, id_col="nc:id", text_col=tcol),
            "dedup_flags": lambda: _dedup().exact_dedup(docs, "nc:id", tcol),
            # positional inverted index (term, nc:id, pos) — index once
            # through the cache, answer phrase queries many times
            # (operators/retrieval.phrase_search_indexed)
            "positional_index": lambda: _retrieval().build_positional_index(
                docs, id_col="nc:id", text_col=tcol),
            # compressibility signal (zlib ratio per doc) — the cheap
            # boilerplate/entropy curation feature; Arrow-batched, so it
            # belongs behind the cache like srp
            "compression": lambda: _ts().compression_ratio(
                docs, id_col="nc:id", text_col=tcol),
            # index storage accounting over the cached positional index
            "postings_stats": lambda: _retrieval().postings_size_stats(
                self.run("positional_index"), id_col="nc:id"),
            # code-likeness markers (prose/code routing signal)
            "code_score": lambda: _ts().code_score(docs, "nc:id", tcol),
        }

    def transforms(self) -> list[str]:
        return sorted(self._transforms())

    def run(self, name: str) -> DataFrame:
        """Resolve a named transform under the cache policy (the
        reference's Reservoir.__iter__ decision tree)."""
        builders = self._transforms()
        if name not in builders:
            raise KeyError(f"unknown transform {name!r}; have {sorted(builders)}")
        df = builders[name]()
        return self.cache.materialize(
            self.spark, name, df, fingerprint=self._fingerprint
        )

    def build(self, targets: list[str]) -> None:
        """CLI-parity batch build (reference commander.py): force-materialize
        every target through the cache, each on its own thread.

        Every target joins ``cache_set`` before any thread starts, so a
        target that another one reads as an upstream is checkpointed, never
        computed inline.  Each thread inherits the caller's job group and
        local properties.  If targets fail, the others still finish; then
        the first failure in ``targets`` order is raised."""
        self.cache.cache_set.update(targets)
        with ThreadPoolExecutor(max_workers=max(len(targets), 1)) as pool:
            # wrap per target, in this thread: each wrapper clones the
            # caller's local properties for its own thread
            futures = [pool.submit(inheritable_thread_target(self.spark)(self.run), t)
                       for t in targets]
        for f in futures:
            f.result()

    def export_catalog(self, out_dir) -> dict[str, dict]:
        """Write the catalog with persisted per-field statistics
        (quantiles / top values — reference catalog.py:420-428) as parquet
        column metadata plus a JSON sidecar.  Returns the stats map."""
        from nonconsumptive_spark.sources import writers
        from nonconsumptive_spark.sources.inference import field_metadata

        catalog, plans = self._catalog_and_plans
        meta = field_metadata(catalog, plans)
        writers.export_catalog(catalog, out_dir, field_meta=meta)
        return meta

    # -- document accessor (reference document.py:39-77) ------------------
    def document(self, doc_id: str) -> dict:
        row = self._docs.filter(F.col("@id") == doc_id).first()
        if row is None:
            raise KeyError(doc_id)
        d = row.asDict()
        meta = self._catalog_and_plans[0].filter(F.col("@id") == doc_id).first()
        if meta is not None:
            d.update({k: v for k, v in meta.asDict().items() if k not in d})
        return d
