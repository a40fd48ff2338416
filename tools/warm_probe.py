"""Warm-timing + plan-capture probe for optimization work (guide §1).

Times each named registry query (every registered query when none is
named) with an untimed warm-up pass then min-of-2 timed passes against
the noop sink (same methodology as bench.py's headline protocol), and
optionally writes ``explain("formatted")`` to
``plans/<round>/<name>_<tag>.txt``.  Each timed pass also times the
``spark_fn`` call alone (plan time) and counts the Spark jobs that call
launched (the status tracker's job ids before and after it): a warm
query that plans without running anything reports 0.

Usage:
  python tools/warm_probe.py [--plans r08 --tag before] [q_a q_b ...]
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/warm_probe.py ...

Prints one JSON line: {"timings": {name: sec}, "plan_s": {name: sec},
"plan_jobs": {name: jobs in the last timed spark_fn call}, "sf_dir": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from nonconsumptive_spark.queries import all_queries  # noqa: E402
from nonconsumptive_spark.session import get_spark  # noqa: E402


def main(argv: list[str]) -> None:
    plans_dir: Path | None = None
    tag = "before"
    names: list[str] = []
    it = iter(argv)
    for a in it:
        if a == "--plans":
            plans_dir = Path(__file__).resolve().parent.parent / "plans" / next(it)
        elif a == "--tag":
            tag = next(it)
        else:
            names.append(a)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("nc-warm-probe")
    registry = all_queries()
    names = names or sorted(registry)
    spark.range(1000).selectExpr("sum(id)").collect()
    tracker = spark.sparkContext.statusTracker()

    def job_ids() -> set[int]:
        return set(tracker.getJobIdsForGroup(None))

    timings: dict[str, float] = {}
    plan_s: dict[str, float] = {}
    plan_jobs: dict[str, int] = {}
    for name in names:
        q = registry[name]
        spark.sparkContext.setJobDescription(f"warm_probe:{name}")
        if plans_dir is not None:
            plans_dir.mkdir(parents=True, exist_ok=True)
            # public API capture (df.explain prints to stdout); the
            # JVM-private PythonSQLUtils path broke across Spark minors
            import contextlib
            import io

            df = q.spark_fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
            (plans_dir / f"{name}_{tag}.txt").write_text(buf.getvalue())
        # untimed warm-up + min-of-2 timed
        q.spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = best_plan = float("inf")
        for _ in range(2):
            before = job_ids()
            t0 = time.time()
            df = q.spark_fn(spark, sf_dir)
            t_plan = time.time() - t0
            plan_jobs[name] = len(job_ids() - before)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
            best_plan = min(best_plan, t_plan)
        timings[name] = round(best, 3)
        plan_s[name] = round(best_plan, 3)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"timings": timings, "plan_s": plan_s, "plan_jobs": plan_jobs,
                      "sf_dir": sf_dir}))


if __name__ == "__main__":
    main(sys.argv[1:])
