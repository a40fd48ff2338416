"""The session cache: deterministic sub-results shared across queries.

Several query families read the same derived frame or value over one
corpus: the tokenized documents (every token-spine query,
``plans/token_cache.py``), the two hybrid-eval rankers, the quantized
k-means frame and converged centroids, the dedup-cluster pipeline and
the token-bigram edge list.  Each is a deterministic pure function of
its sources and parameters, so it is built once per session and every
later consumer reads the same object — the Spark rendering of the
reference's Reservoir ``cache_set`` (reference ``data_storage.py:154-161``),
which tokenizes each bookstack once and lets every downstream transform
read the cached arrays.

Policy (stated here once; callers point at it):

  * key = (applicationId, stamps of every source, tag, params).  A
    source is a frame — stamped by its canonicalized analyzed plan plus
    every input file's (path, mtime_ns, size) — or a local path, stamped
    by (realpath, mtime_ns, size) alone, so a hit costs a stat rather
    than a table load.  The plan tells apart two frames over the same
    files (a projection must never hit the full-corpus entry);
    canonicalization normalizes expression ids, so two loads of one
    table share an entry.  A corpus rewrite changes the stat and misses.
  * a source that cannot be stamped (no input files, a remote URI, an
    unreadable stat, a plan that will not canonicalize) DISABLES caching
    for that call — never a constant key that could serve stale data.
  * one LRU store of ``_MAX_ENTRIES`` entries holds frames
    (``shared_frame``, the ``materialize_once`` of the expression the
    un-cached path returns, so cached and uncached runs are
    result-identical) and small Python values (``shared_value``).
  * eviction drops the entry.  Under the local policy a
    ``localCheckpoint`` frame's blocks are released by Spark's
    ContextCleaner once the frame is unreachable and the JVM collects
    garbage (``unpersist`` does not free them); under the parquet policy
    the files stay under the policy root, as for any ``materialize_once``.
  * nothing persists across processes: a cold process pays one build.
    The durable cross-process cache is ``CorpusSession``'s
    ``CheckpointCache``, kept separate by the round-8 policy ruling.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from typing import Callable, Sequence

from pyspark import SparkContext
from pyspark.sql import DataFrame

_MAX_ENTRIES = 12
_CACHE: "OrderedDict[tuple, object]" = OrderedDict()
# store access is locked (q_kmeans_elbow materializes from worker threads);
# builders run OUTSIDE the lock — a racing duplicate build is harmless
# (result-identical by construction, last write wins)
_LOCK = threading.Lock()


def file_stamp(path: str):
    """(realpath, mtime_ns, size) of a local file or ``file:`` URI; None
    for a remote URI or a path that cannot be stat-ed."""
    if path.startswith("file://"):
        path = path[len("file://"):]
    elif path.startswith("file:"):
        path = path[len("file:"):]
    if "://" in path:
        return None
    path = os.path.realpath(path)
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (path, st.st_mtime_ns, st.st_size)


def _source_stamps(src: DataFrame | str):
    if isinstance(src, str):
        stamp = file_stamp(src)
        return None if stamp is None else [stamp]
    try:
        plan = src._jdf.queryExecution().analyzed().canonicalized().toString()
        files = src.inputFiles()
    except Exception:  # JVM-internal accessor: degrade to cache-disabled
        return None
    if not files:
        return None
    stamps = [("plan", plan)]
    for uri in sorted(files):
        stamp = file_stamp(uri)
        if stamp is None:
            return None
        stamps.append(stamp)
    return stamps


def _key(sources: Sequence[DataFrame | str]):
    """(appId, stamps...) over every source; None disables caching."""
    sc = SparkContext._active_spark_context
    if sc is None or not sources:
        return None
    stamps: list[tuple] = []
    for src in sources:
        got = _source_stamps(src)
        if got is None:
            return None
        stamps.extend(got)
    return (sc.applicationId, tuple(stamps))


def _shared(key: tuple, build: Callable[[], object]) -> object:
    with _LOCK:
        if key in _CACHE:
            _CACHE.move_to_end(key)
            return _CACHE[key]
    val = build()
    with _LOCK:
        _CACHE[key] = val
        if len(_CACHE) > _MAX_ENTRIES:
            _CACHE.popitem(last=False)
    return val


def shared_frame(tag: str, params: tuple, sources: Sequence[DataFrame | str],
                 build: Callable[[], DataFrame],
                 materialize_fallback: bool = False) -> DataFrame:
    """``materialize_once(build(), tag)`` computed at most once per
    (session, source stamps, tag, params); falls back to an un-cached
    build when the sources cannot be stamped.
    ``materialize_fallback`` keeps the fallback materialized too, for
    callers whose un-cached contract always checkpointed (the token
    spine, the quantized frame feeding multi-round Lloyd loops)."""
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    base = _key(sources)
    if base is None:
        out = build()
        return materialize_once(out, tag) if materialize_fallback else out
    return _shared((base, tag, params), lambda: materialize_once(build(), tag))


def shared_value(tag: str, params: tuple, sources: Sequence[DataFrame | str],
                 compute: Callable[[], object]) -> object:
    """Like shared_frame for small derived PYTHON values (e.g. converged
    k-means centroids), recomputed freely when the sources cannot be
    stamped.  Only deterministic pure functions of the stamped sources
    may be cached here — that is what makes a hit result-identical."""
    base = _key(sources)
    if base is None:
        return compute()
    return _shared((base, tag, params), compute)


def clear_session_cache() -> None:
    with _LOCK:
        _CACHE.clear()
