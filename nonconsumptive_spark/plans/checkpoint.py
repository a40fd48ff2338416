"""Named parquet checkpoints with a cache policy — the Spark rendering of
the reference's Reservoir ``cache_set`` execution policy
(``data_storage.py:154-161``):

  * name ∉ cache_set      → pass the (lazy) DataFrame through untouched
  * cached & fingerprint fresh → read the parquet checkpoint
  * else                  → write checkpoint (zstd parquet), read it back

Cache invalidation is by explicit fingerprint (content hash / source mtime
composed by the caller) stored in a small manifest JSON next to the data —
Spark has no native mtime story (SURVEY §7 hard-point 7; reference
invalidates on source mtime at metadata.py:43-56).

The manifest, ``<root>/<name>/_nc_manifest.json``, beside ``data/``:

  * ``name``        — the transform name
  * ``fingerprint`` — the caller's freshness key ("" when none was given)
  * ``schema``      — the read-back frame's schema as Spark JSON
                      (``StructType.jsonValue()``, partition columns last)

A hit reads ``data/`` with that schema, which skips the footer-reading
job that parquet schema inference launches.  A manifest without
``schema`` is stale: the checkpoint is rebuilt once and the new manifest
carries it.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST = "_nc_manifest.json"

# ---------------------------------------------------------------------------
# Materialization policy for in-query reuse points (dedup signatures,
# shingle tables, SRP bit frames): places where one expensive frame feeds
# several plan subtrees and must be computed once, not once per reference.
#
#   'local'   → DataFrame.localCheckpoint(eager=False): executor-local
#               shuffle files — fast, zero config, but LOST on executor
#               failure (the whole query re-runs).  Right for local[n]
#               and short interactive jobs.
#   'parquet' → durable zstd parquet under a root dir, read back: survives
#               executor loss, shareable across jobs — the knob a
#               1000-executor cluster must run with (the reference's
#               reservoir policy, data_storage.py:154-161).
#
# The policy is process-global so operator code stays declarative; flip it
# once at session setup (or via the `parquet_materialization` context
# manager in tests).

_MAT_POLICY: dict = {"mode": "local", "root": None}
_MAT_SEQ = 0
# Callers may materialize from worker threads (e.g. the concurrent
# elbow runs in q_kmeans_elbow); the sequence must stay collision-free
# or two frames would overwrite one parquet path.
_MAT_SEQ_LOCK = __import__("threading").Lock()


def set_materialization(mode: str, root: str | Path | None = None) -> None:
    if mode not in ("local", "parquet"):
        raise ValueError(f"materialization mode must be local|parquet, got {mode!r}")
    if mode == "parquet" and root is None:
        raise ValueError("parquet materialization needs a root directory")
    _MAT_POLICY["mode"] = mode
    _MAT_POLICY["root"] = str(root) if root else None


# Observer hook for plan auditing: the plan census registers a callback
# here so it can census the PRE-checkpoint plan of every materialized
# sub-frame — a checkpoint truncates lineage, so the parent query's plan
# alone hides whatever pipeline (joins, windows, exchanges) was planned
# behind it (round-8 verdict item: a regression inside a materialized
# sub-frame must not be invisible to the census gate).
_MAT_OBSERVER = None


def set_materialization_observer(fn) -> None:
    """fn(name, df) is called with every frame passed to
    materialize_once BEFORE its lineage is cut; pass None to remove."""
    global _MAT_OBSERVER
    _MAT_OBSERVER = fn


def materialize_once(df: DataFrame, name: str = "mat") -> DataFrame:
    """Apply the session materialization policy to a reuse-point frame."""
    global _MAT_SEQ
    if _MAT_OBSERVER is not None:
        _MAT_OBSERVER(name, df)
    if _MAT_POLICY["mode"] == "local":
        return df.localCheckpoint(eager=False)
    with _MAT_SEQ_LOCK:
        _MAT_SEQ += 1
        seq = _MAT_SEQ
    path = str(Path(_MAT_POLICY["root"]) / f"{name}-{seq:04d}")
    df.write.mode("overwrite").option("compression", "zstd").parquet(path)
    return df.sparkSession.read.parquet(path)


class parquet_materialization:
    """Context manager: run a block under the durable parquet policy."""

    def __init__(self, root: str | Path):
        self.root = root

    def __enter__(self):
        self._saved = dict(_MAT_POLICY)
        set_materialization("parquet", self.root)
        return self

    def __exit__(self, *exc):
        _MAT_POLICY.update(self._saved)
        return False


class CheckpointCache:
    def __init__(self, root: str | Path, cache_set: set[str] | None = None,
                 compression: str = "zstd"):
        self.root = Path(root)
        self.cache_set = set(cache_set or ())
        self.compression = compression
        self.root.mkdir(parents=True, exist_ok=True)

    def _dir(self, name: str) -> Path:
        return self.root / name

    def path_for(self, name: str) -> Path:
        """Public location of a named checkpoint (exists iff materialized)."""
        return self._dir(name)

    def _fresh_manifest(self, name: str, fingerprint: str | None) -> dict | None:
        """The manifest of a usable checkpoint, else None: missing, without
        a recorded schema (written before schemas were recorded), or with
        a different fingerprint all count as stale."""
        mf = self._dir(name) / MANIFEST
        if not mf.exists():
            return None
        meta = json.loads(mf.read_text())
        if "schema" not in meta:
            return None
        if fingerprint is not None and meta.get("fingerprint") != fingerprint:
            return None
        return meta

    def is_cached(self, name: str, fingerprint: str | None = None) -> bool:
        return self._fresh_manifest(name, fingerprint) is not None

    def materialize(self, spark: SparkSession, name: str, df: DataFrame,
                    fingerprint: str = "", partition_by: list[str] | None = None) -> DataFrame:
        """Apply the cache policy to one named transform.  A hit reads with
        the manifest's schema, so it launches no Spark job."""
        if name not in self.cache_set:
            return df
        d = self._dir(name)
        data = str(d / "data")
        meta = self._fresh_manifest(name, fingerprint or None)
        if meta is not None:
            return spark.read.schema(StructType.fromJson(meta["schema"])).parquet(data)
        if d.exists():  # stale / corrupt → rebuild (reference repairs likewise)
            shutil.rmtree(d)
        writer = df.write.mode("overwrite").option("compression", self.compression)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data)
        out = spark.read.parquet(data)
        (d / MANIFEST).write_text(json.dumps(
            {"name": name, "fingerprint": fingerprint, "schema": out.schema.jsonValue()}
        ))
        return out

    def cached_names(self) -> list[str]:
        return sorted(
            p.name for p in self.root.iterdir()
            if p.is_dir() and (p / MANIFEST).exists()
        )

    def invalidate(self, name: str) -> None:
        d = self._dir(name)
        if d.exists():
            shutil.rmtree(d)
