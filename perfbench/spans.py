"""Spans and counters for the traced run.

Nothing inside ``nonconsumptive_spark`` is edited: ``Tracer.install``
wraps the public functions the workloads reach, in every loaded module of
the package that holds a reference to them, and ``uninstall`` puts the
originals back.  A span records name, start, end, parent and op id; spans
stay in memory and are written out when the run ends.  After each op the
Spark stages and jobs that ran during it are read from Spark's status
store and attributed to the innermost span open when each was submitted.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from collections import defaultdict
from pathlib import Path

from procstat import dir_bytes

SPARK_COUNTERS = ("jobs", "tasks", "executor_cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


class NullTracer:
    """Stands in for the tracer in untraced runs: spans cost one call."""

    active = False

    @contextlib.contextmanager
    def span(self, name, **attrs):
        yield attrs

    def count(self, name, value=1):
        pass

    def begin_op(self, op_id):
        pass

    def end_op(self):
        pass


class Tracer(NullTracer):
    active = True

    def __init__(self, spark):
        self.spans: list[dict] = []
        self.counts: dict = defaultdict(lambda: defaultdict(float))
        self._stack: list[dict] = []
        self._op = None
        self._patched: list[tuple] = []
        self._captured: dict[str, list] = defaultdict(list)
        self.cost_s = 0.0  # time spent reading Spark's status store
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._last_stage = -1
        self._last_job = -1

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name, **attrs):
        if self._op is None:  # output checks and probes run between ops
            yield attrs
            return
        s = {"id": len(self.spans), "name": name, "op": self._op,
             "parent": self._stack[-1]["id"] if self._stack else None,
             "start": time.time(), **attrs}
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def count(self, name, value=1):
        if self._op is not None:
            self.counts[self._op][name] += value

    def count_totals(self, op_ids) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for op in op_ids:
            for k, v in self.counts.get(op, {}).items():
                out[k] += v
        return out

    def begin_op(self, op_id):
        """Start attributing to ``op_id``; Spark work since the last op
        (output checks) belongs to no op."""
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        self._new_stages()
        self._new_jobs()
        self._op = op_id
        self.cost_s += time.perf_counter() - t0

    def end_op(self):
        """Attribute the Spark stages and jobs of the finished op."""
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        op_spans = [s for s in self.spans if s["op"] == self._op]
        for kind, rows in (("stage", self._new_stages()), ("job", self._new_jobs())):
            for t, metrics in rows:
                owner = None
                for s in op_spans:  # innermost = latest-starting enclosing
                    if s["start"] <= t <= s.get("end", float("inf")):
                        owner = s
                if owner is None and op_spans:
                    owner = op_spans[0]
                if owner is not None:
                    sp = owner.setdefault("spark", dict.fromkeys(SPARK_COUNTERS, 0))
                    for k, v in metrics.items():
                        sp[k] += v
        self._op = None
        self.cost_s += time.perf_counter() - t0

    # -- Spark status store ----------------------------------------------------
    def _stage_seq(self):
        ArrayList = self._jvm.java.util.ArrayList
        return self._store.stageList(ArrayList(), False, False,
                                     self._gateway.new_array(self._jvm.double, 0),
                                     ArrayList())

    def _new_stages(self):
        """(submission time, counters) of stages newer than the last read;
        the status store lists stages newest first."""
        seq = self._stage_seq()
        out, newest = [], self._last_stage
        for i in range(seq.size()):
            st = seq.apply(i)
            sid = st.stageId()
            if sid <= self._last_stage:
                break
            newest = max(newest, sid)
            sub = st.submissionTime()
            if sub.isEmpty():  # skipped: its output was already computed
                continue
            out.append((sub.get().getTime() / 1000.0, {
                "tasks": st.numTasks(),
                "executor_cpu_s": st.executorCpuTime() / 1e9,
                "gc_s": st.jvmGcTime() / 1e3,
                "shuffle_read_bytes": st.shuffleReadBytes(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            }))
        self._last_stage = newest
        return out

    def _new_jobs(self):
        seq = self._store.jobsList(None)
        out, newest = [], self._last_job
        for i in range(seq.size()):
            job = seq.apply(i)
            if job.jobId() <= self._last_job:
                continue
            newest = max(newest, job.jobId())
            sub = job.submissionTime()
            t = sub.get().getTime() / 1000.0 if not sub.isEmpty() else time.time()
            out.append((t, {"jobs": 1}))
        self._last_job = newest
        return out

    # -- wrapping the program's public functions -------------------------------
    def wrap(self, module, attr: str, make):
        """Replace ``module.attr`` with ``make(original)`` in every loaded
        module of the package that references the same object."""
        original = getattr(module, attr)
        wrapper = functools.wraps(original)(make(original))
        for name, mod in list(sys.modules.items()):
            if not name.startswith("nonconsumptive_spark") or mod is None:
                continue
            if getattr(mod, attr, None) is original:
                setattr(mod, attr, wrapper)
                self._patched.append((mod, attr, original))

    def wrap_method(self, cls, attr: str, make):
        original = getattr(cls, attr)
        setattr(cls, attr, functools.wraps(original)(make(original)))
        self._patched.append((cls, attr, original))

    def timed(self, span_name: str):
        """Wrapper factory: a span around each call."""
        def make(fn):
            def wrapper(*a, **kw):
                with self.span(span_name):
                    return fn(*a, **kw)
            return wrapper
        return make

    def captured(self, name: str) -> list:
        return self._captured[name]

    def install(self):
        import nonconsumptive_spark.corpus as corpus
        from nonconsumptive_spark.plans import checkpoint, ranker_cache, token_cache
        from nonconsumptive_spark.sources import inference, readers

        self.wrap(readers, "read_parquet_bookstacks", self.timed("sources.read"))
        self.wrap(readers, "read_catalog", self.timed("sources.catalog_infer"))
        self.wrap(inference, "infer_column_plans", self.timed("sources.catalog_infer"))

        tracer = self

        def run(fn):
            def wrapper(sess, name):
                with tracer.span(f"corpus.transform.{name}"):
                    return fn(sess, name)
            return wrapper
        self.wrap_method(corpus.CorpusSession, "run", run)

        def materialize(fn):
            def wrapper(cache, spark, name, df, fingerprint="", partition_by=None):
                if name not in cache.cache_set:
                    return fn(cache, spark, name, df, fingerprint, partition_by)
                hit = cache.is_cached(name, fingerprint or None)
                kind = "read" if hit else "write"
                with tracer.span(f"plans.checkpoint.{kind}", transform=name):
                    out = fn(cache, spark, name, df, fingerprint, partition_by)
                tracer.count("plans.checkpoint.hits" if hit else
                             "plans.checkpoint.builds")
                if not hit:
                    tracer.count("plans.checkpoint.bytes_written",
                                 dir_bytes(cache.path_for(name)))
                return out
            return wrapper
        self.wrap_method(checkpoint.CheckpointCache, "materialize", materialize)

        def mat_once(fn):
            def wrapper(df, name="mat"):
                out = fn(df, name)
                tracer._captured[name].append(out)
                return out
            return wrapper
        self.wrap(checkpoint, "materialize_once", mat_once)

        def session_cache(tag, cache_of):
            def make(fn):
                def wrapper(*a, **kw):
                    before = {id(v) for v in cache_of().values()}
                    with tracer.span(f"plans.{tag}"):
                        out = fn(*a, **kw)
                    hit = id(out) in before
                    tracer.count(f"plans.session_cache.{'hits' if hit else 'misses'}")
                    return out
                return wrapper
            return make
        self.wrap(token_cache, "tokenized_documents",
                  session_cache("token_cache", lambda: token_cache._CACHE))
        self.wrap(ranker_cache, "shared_frame",
                  session_cache("ranker_cache", lambda: ranker_cache._CACHE))

    def uninstall(self):
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- output ----------------------------------------------------------------
    def self_times(self, op_ids=None) -> dict[str, float]:
        """Total self time per span name (span minus its children)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if "end" in s and (op_ids is None or s["op"] in op_ids):
                out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return out

    def times_excluding(self, prefix: str, op_ids) -> dict[str, float]:
        """Total time per span name starting with ``prefix``, less the time
        of direct children that also start with it (a transform's own
        work, without the upstream transforms it pulls through)."""
        nested = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["name"].startswith(prefix):
                nested[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["name"].startswith(prefix) and s["op"] in op_ids:
                out[s["name"]] += s["end"] - s["start"] - nested[s["id"]]
        return out

    def spark_totals(self, op_ids=None) -> dict[str, float]:
        tot = dict.fromkeys(SPARK_COUNTERS, 0.0)
        for s in self.spans:
            if "spark" in s and (op_ids is None or s["op"] in op_ids):
                for k, v in s["spark"].items():
                    tot[k] += v
        return tot

    def tree_lines(self) -> list[str]:
        """The span tree aggregated by name path: calls, total and self
        seconds, and the Spark counters attributed to each path."""
        by_id = {s["id"]: s for s in self.spans}
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        agg: dict[tuple, dict] = {}
        for s in self.spans:
            if "end" not in s:
                continue
            path, p = [s["name"]], s["parent"]
            while p is not None:
                path.append(by_id[p]["name"])
                p = by_id[p]["parent"]
            key = tuple(reversed(path))
            a = agg.setdefault(key, {"n": 0, "total": 0.0, "self": 0.0,
                                     **dict.fromkeys(SPARK_COUNTERS, 0)})
            a["n"] += 1
            a["total"] += s["end"] - s["start"]
            a["self"] += s["end"] - s["start"] - child[s["id"]]
            for k, v in s.get("spark", {}).items():
                a[k] += v
        lines = [f"{'span':58s} {'calls':>6s} {'total_s':>9s} {'self_s':>9s} "
                 f"{'jobs':>5s} {'tasks':>6s} {'cpu_s':>7s} {'gc_s':>6s} "
                 f"{'shuf_r_MB':>9s} {'shuf_w_MB':>9s} {'spill_MB':>8s}"]
        for key in sorted(agg):
            a = agg[key]
            lines.append(
                f"{'  ' * (len(key) - 1) + key[-1]:58s} {a['n']:6d} "
                f"{a['total']:9.3f} {a['self']:9.3f} {a['jobs']:5d} "
                f"{a['tasks']:6d} {a['executor_cpu_s']:7.2f} {a['gc_s']:6.2f} "
                f"{a['shuffle_read_bytes'] / 1e6:9.2f} "
                f"{a['shuffle_write_bytes'] / 1e6:9.2f} {a['spill_bytes'] / 1e6:8.2f}")
        return lines

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans,
                                    "counts": {str(k): v for k, v in self.counts.items()}}))
