"""Benchmark entry point.

    python3 perfbench/run.py --workload feature_build --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 1

Generates the workload's inputs from ``--seed`` under ``.bench_work/`` in
the checkout, starts one Spark session on ``local[nproc]``, runs the
workload's set-up, then runs whole rotations of ops until ``--seconds``
have passed, checking every op's output.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOAD_NAMES = ["feature_build", "query_mix", "neardup_ingest"]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# -- Spark launch ---------------------------------------------------------------
def start_spark(work: Path):
    """``local[nproc]`` with every temporary file inside the checkout.  The
    repo goes on PYTHONPATH so Python workers can import the package
    (``srp_embed_arrow``'s mapInArrow function pickles by module path)."""
    from nonconsumptive_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    tmp = work / "tmp"
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g",
    }
    return get_spark("perfbench", cpus=len(os.sched_getaffinity(0)), extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child to end."""
    from pyspark import SparkContext

    import procstat

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(procstat.tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.2)


# -- measuring ----------------------------------------------------------------------
def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples above it; the
    maximum when there are too few samples for that to reach p50."""
    s = sorted(values)
    n = len(s)
    if n >= 20:
        return s[n - 11], f"p{100 * (n - 10) / n:.1f}"
    return s[-1], "max"


def measure(wl, seconds: float, tracer) -> list[dict]:
    """Whole rotations until ``seconds`` of wall time have passed."""
    import procstat

    samples: list[dict] = []
    t_start = time.perf_counter()
    while True:
        for op in wl.rotation():
            op_id = len(samples)
            tracer.begin_op(op_id)
            pids = procstat.tree_pids()
            c0, w0 = procstat.tree_cpu_s(pids), procstat.python_worker_cpu_s(pids)
            t0 = time.perf_counter()
            res, err = None, None
            try:
                with tracer.span(f"op.{op.kind}", query=op.name):
                    res = op.fn()
            except Exception:  # a failed op is counted, the loop goes on
                err = traceback.format_exc(limit=3)
            dt = time.perf_counter() - t0
            pids = procstat.tree_pids()
            c1, w1 = procstat.tree_cpu_s(pids), procstat.python_worker_cpu_s(pids)
            tracer.end_op()
            if err is None:
                try:
                    problems = wl.check(op, res)
                except Exception:
                    problems = [traceback.format_exc(limit=3)]
            else:
                problems = [err]
            for p in problems[:2]:
                print(f"FAILED {op.name}: {p}", file=sys.stderr)
            samples.append({"op": op_id, "name": op.name, "kind": op.kind,
                            "docs": op.docs, "s": dt, "cpu_s": c1 - c0,
                            "worker_cpu_s": w1 - w0, "ok": not problems})
        if time.perf_counter() - t_start >= seconds:
            return samples


def end_to_end(samples, setup_s, wl, manifest) -> tuple[dict, dict]:
    """(end-to-end metrics, extra report fields) of a measured window.
    ``op_tail_s`` goes to the report, not the metrics: with under 20 ops
    in a run no percentile above p50 has ten samples beyond it, and the
    maximum it falls back to is too noisy to gate on."""
    import procstat

    times = [x["s"] for x in samples]
    busy = sum(times)
    tail_v, tail_p = tail(times)
    metrics = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(samples) / busy, "1/s"),
        "op_p50_s": (statistics.median(times), "s"),
        "cpu_s_per_op": (statistics.fmean(x["cpu_s"] for x in samples), "s"),
        "peak_rss_mb": (procstat.tree_peak_rss_mb(), "MB"),
        "stored_bytes_per_input_byte": (wl.stored_bytes() / manifest["corpus_bytes"],
                                        "ratio"),
    }
    failed = sum(not x["ok"] for x in samples)
    extra = {"op_tail_s": tail_v, "op_tail_percentile": tail_p, "ops": len(samples),
             "failed_op_frac": failed / len(samples)}
    doc_ops = [x for x in samples if x["docs"]]
    if doc_ops:
        extra["docs_per_s"] = sum(x["docs"] for x in doc_ops) / sum(x["s"] for x in doc_ops)
    q_ops = [x for x in samples if x["kind"] == "query"]
    if q_ops:
        extra["queries_per_s"] = len(q_ops) / sum(x["s"] for x in q_ops)
    return metrics, extra


def per_layer(tracer, samples, wl, start_s, probes) -> dict:
    """Per-layer metrics of the traced window; see README for each."""
    from workloads import FeatureBuild

    ops = {x["op"] for x in samples}
    n = len(samples)
    self_s = tracer.self_times(ops)
    spark = tracer.spark_totals(ops)
    c = tracer.count_totals(ops)

    def per_op(v):
        return v / n

    def mean_of(name):
        spans = [s for s in tracer.spans if s["name"] == name and s["op"] in ops]
        return statistics.fmean(s["end"] - s["start"] for s in spans) if spans else 0.0

    hits, builds = c["plans.checkpoint.hits"], c["plans.checkpoint.builds"]
    sc_hits, sc_miss = c["plans.session_cache.hits"], c["plans.session_cache.misses"]
    passes = getattr(wl, "pass_stats", [])
    last = passes[-1] if passes else {}
    m = {
        "session.start_s": (start_s, "s"),
        "sources.read_s": (per_op(self_s["sources.read"]), "s"),
        "sources.catalog_infer_s": (per_op(self_s["sources.catalog_infer"]), "s"),
    }
    transform_s = tracer.times_excluding("corpus.transform.", ops)
    for t in FeatureBuild.TARGETS + ["srp"]:
        m[f"corpus.transform_s.{t}"] = (per_op(transform_s[f"corpus.transform.{t}"]), "s")
    m.update({
        "functions.tokenize_s": (probes.get("tokenize", 0.0), "s"),
        "functions.srp_s": (probes.get("srp", 0.0), "s"),
        "plans.checkpoint.write_s": (per_op(self_s["plans.checkpoint.write"]), "s"),
        "plans.checkpoint.read_s": (per_op(self_s["plans.checkpoint.read"]), "s"),
        "plans.checkpoint.bytes_written": (per_op(c["plans.checkpoint.bytes_written"]), "bytes"),
        "plans.checkpoint.hit_ratio": (hits / (hits + builds) if hits + builds else 0.0, "ratio"),
        "plans.session_cache.hit_ratio": (sc_hits / (sc_hits + sc_miss)
                                          if sc_hits + sc_miss else 0.0, "ratio"),
        "queries.plan_s": (mean_of("queries.plan"), "s"),
        "queries.exec_s": (mean_of("queries.exec"), "s"),
        "queries.cold_s": (getattr(wl, "cold_s", 0.0), "s"),
        "operators.dedup.candidates": (last.get("candidates", 0), "count"),
        "operators.dedup.verified_pairs": (last.get("verified_pairs", 0), "count"),
        "operators.dedup.verify_useful_ratio": (
            last["verified_pairs"] / last["candidates"] if last.get("candidates") else 0.0,
            "ratio"),
        "operators.dedup.ppjoin_candidates": (last.get("ppjoin_candidates", 0), "count"),
        "operators.dedup.ppjoin_useful_ratio": (
            last["exact_pairs"] / last["ppjoin_candidates"]
            if last.get("ppjoin_candidates") else 0.0, "ratio"),
        "operators.dedup.planted_recall": (last.get("planted_recall", 0.0), "ratio"),
        "operators.dedup.pass_s": (mean_of("operators.dedup.pass"), "s"),
        "streaming.neardup.batch_s": (mean_of("streaming.neardup.batch"), "s"),
        "streaming.neardup.flagged": (statistics.fmean(wl.flagged)
                                      if getattr(wl, "flagged", None) else 0.0, "count"),
    })
    for k in ("jobs", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = (per_op(spark[k]), "count" if k in ("jobs", "tasks") else "bytes")
    m["spark.executor_cpu_s"] = (per_op(spark["executor_cpu_s"]), "s")
    m["spark.gc_s"] = (per_op(spark["gc_s"]), "s")
    m["python_workers.cpu_s"] = (statistics.fmean(x["worker_cpu_s"] for x in samples), "s")
    m["trace.bookkeeping_s"] = (per_op(tracer.cost_s), "s")
    return m


def function_probes(spark, inputs: Path) -> dict:
    """Cost of the tokenizer and the SRP embedding on their own: a noop
    write of each over the workload's corpus, median of three."""
    from nonconsumptive_spark.functions.embeddings import srp_embed_arrow
    from nonconsumptive_spark.functions.text import tokenize

    stacks = inputs / "bookstacks"
    if not stacks.exists():
        return {}
    docs = spark.read.parquet(str(stacks))
    jobs = {
        "tokenize": lambda: docs.select(tokenize("nc:text").alias("t")),
        "srp": lambda: srp_embed_arrow(docs, id_col="@id", text_col="nc:text"),
    }
    out = {}
    for name, make in jobs.items():
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            make().write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        out[name] = statistics.median(times)
    return out


# -- one workload ---------------------------------------------------------------------
def run_one(args, work: Path) -> dict:
    import gen
    import procstat
    from spans import NullTracer, Tracer
    from workloads import WORKLOADS, oracle_digests

    box_before = procstat.box_snapshot()
    inputs = work / "inputs"
    t0 = time.perf_counter()
    manifest = gen.GENERATORS[args.workload](inputs, args.seed)
    if args.workload == "query_mix":
        manifest["oracle"] = oracle_digests(inputs / "tables")
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = start_spark(work)
    spark.range(1).collect()
    start_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark) if args.trace else NullTracer()
        wl = WORKLOADS[args.workload](spark, inputs, work, manifest, tracer)
        if args.trace:
            tracer.install()
        tracer.begin_op("setup")
        t0 = time.perf_counter()
        wl.setup()
        setup_s = start_s + time.perf_counter() - t0
        tracer.end_op()
        samples = measure(wl, args.seconds, tracer)
        metrics, extra = end_to_end(samples, setup_s, wl, manifest)
        if args.trace:
            tracer.uninstall()
            extra["end_to_end"] = {k: v for k, (v, _) in metrics.items()}
            metrics = per_layer(tracer, samples, wl, start_s,
                                function_probes(spark, inputs))
            out = ROOT / ".bench_out" / f"trace-{args.workload}-seed{args.seed}.json"
            tracer.dump(out)
            print("\n".join(tracer.tree_lines()))
            print(f"spans written to {out.relative_to(ROOT)}")
    finally:
        stop_spark(spark)
    box_after = procstat.box_snapshot()
    failed = sum(not x["ok"] for x in samples)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "gen_s": round(gen_s, 3), **extra,
        "box_before": box_before, "box_after": box_after,
        "steal_ticks_during": box_after["steal_ticks"] - box_before["steal_ticks"],
        "inputs": {k: v for k, v in manifest.items()
                   if isinstance(v, (int, float, str)) or k == "planted_jaccard_quartiles"},
    }
    for name, (value, unit) in metrics.items():
        print(f"{args.workload:15s} {name:40s} {value:14.6g} {unit}")
    print(json.dumps(report))
    return {"correct": failed == 0, "attempted": len(samples), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def run_all(args) -> int:
    """Every workload in turn, each in its own process; with ``--trace 1``
    each also runs traced, and the difference is the tracing overhead."""
    results, overhead = {}, {}
    for w in WORKLOAD_NAMES:
        runs = {}
        for trace in [0, 1] if args.trace else [0]:
            cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            sys.stdout.write(proc.stdout)
            if proc.returncode != 0:
                print(f"{w} exited with {proc.returncode}", file=sys.stderr)
                return proc.returncode
            lines = proc.stdout.strip().splitlines()
            runs[trace] = (json.loads(lines[-1]), json.loads(lines[-2]))
        results[w] = runs[0][0]
        if args.trace:
            traced = runs[1][1]["end_to_end"]["op_p50_s"]
            plain = runs[0][0]["metrics"]["op_p50_s"]["value"]
            overhead[w] = traced / plain - 1
            print(f"{w:15s} {'trace.overhead_frac':40s} {overhead[w]:14.6g} ratio")
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items()
                    for k, v in r["metrics"].items()},
    }))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "nonconsumptive_spark" / "__init__.py").is_file():
        print(f"nonconsumptive_spark/ not found beside {HERE.name}/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    sys.path.insert(0, str(ROOT))
    try:
        result = run_one(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
