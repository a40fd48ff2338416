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
    by (realpath, mtime_ns, size) alone (a directory by that of every
    data file under it), so a hit costs a stat rather than a table
    load.  The plan tells apart two frames over the same files (a
    projection must never hit the full-corpus entry);
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
  * inferred parquet schemas (``shared_schema``, the memo behind
    ``sources.readers.read_parquet`` and so behind every ``queries.load``)
    live in a map of their own under the same lock, keyed by (applicationId,
    the path's stamps, the reader confs that change an inferred type), so
    they never take one of the frame slots: a session that loads every
    sf table keeps its token-spine frames.  A hit reads with the stored
    schema and launches no inference job; a rewritten, added or removed
    data file changes the stamps and infers again.  The map is an LRU of
    ``_MAX_SCHEMAS`` schemas; an evicted one costs one inference.
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
from pyspark.sql.types import StructType

_MAX_ENTRIES = 12
_CACHE: "OrderedDict[tuple, object]" = OrderedDict()
_MAX_SCHEMAS = 64
_SCHEMAS: "OrderedDict[tuple, StructType]" = OrderedDict()
# store access is locked (q_kmeans_elbow materializes from worker threads);
# builders run OUTSIDE the lock — a racing duplicate build is harmless
# (result-identical by construction, last write wins)
_LOCK = threading.Lock()


def _local_path(path: str) -> str | None:
    """The realpath of a local path or ``file:`` URI; None for a remote URI."""
    if path.startswith("file://"):
        path = path[len("file://"):]
    elif path.startswith("file:"):
        path = path[len("file:"):]
    if "://" in path:
        return None
    return os.path.realpath(path)


def _stat(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (path, st.st_mtime_ns, st.st_size)


def file_stamp(path: str):
    """(realpath, mtime_ns, size) of a local file or ``file:`` URI; None
    for a remote URI or a path that cannot be stat-ed."""
    path = _local_path(path)
    return None if path is None else _stat(path)


def _hidden(name: str) -> bool:
    """Spark's file listing skips these names (``_SUCCESS``, ``.crc``,
    ``_temporary``) but keeps ``_col=v`` partition directories."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def path_stamps(path: str):
    """Stamps of a local path: ``[file_stamp]`` of a file, or the stamp
    of every data file under a directory, so a rewritten, added or
    removed file changes them.  None for a remote URI, a path that
    cannot be stat-ed, or a directory with no data file."""
    path = _local_path(path)
    if path is None:
        return None
    if not os.path.isdir(path):
        stamp = _stat(path)
        return None if stamp is None else [stamp]
    stamps = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        for f in sorted(files):
            if not _hidden(f):
                stamp = _stat(os.path.join(root, f))
                if stamp is None:
                    return None
                stamps.append(stamp)
    return stamps or None


def _source_stamps(src: DataFrame | str):
    if isinstance(src, str):
        return path_stamps(src)
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


def shared_schema(path: str, params: tuple,
                  read: Callable[[StructType | None], DataFrame]) -> DataFrame:
    """``read(schema)`` for the schema an earlier ``read(None)`` inferred
    over the same (session, stamps of ``path``, params); on a miss, or
    when ``path`` cannot be stamped, ``read(None)`` itself.  ``params``
    carries the reader confs that change an inferred type."""
    base = _key([path])
    if base is None:
        return read(None)
    key = (base, params)
    with _LOCK:
        schema = _SCHEMAS.get(key)
        if schema is not None:
            _SCHEMAS.move_to_end(key)
    if schema is not None:
        return read(schema)
    df = read(None)
    with _LOCK:
        _SCHEMAS[key] = df.schema
        if len(_SCHEMAS) > _MAX_SCHEMAS:
            _SCHEMAS.popitem(last=False)
    return df


def clear_session_cache() -> None:
    with _LOCK:
        _CACHE.clear()
        _SCHEMAS.clear()
