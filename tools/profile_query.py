"""Per-query job-count + wall profiler (guide §1: measure first).

For each named query: run it through the noop sink inside a
``perfbench.spans.Tracer`` span and report wall seconds plus the number
of Spark JOBS the lifecycle launched (the scheduler constant that
dominates sub-second queries at sf0.1 — each job is a driver->scheduler
round-trip).  Jobs, stages and tasks are counted exactly as perfbench's
``exec.jobs/stages/tasks``: stages and tasks that ran (skipped stages
are not counted).

    python tools/profile_query.py <sf_dir> <query> [query ...]

Repeats each query ``PROFILE_RUNS`` times (default 3) and reports the
minimum wall (the bench's estimator) with the counts of that run.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import noop, query_fn, warm_up  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402


def main():
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    runs = int(os.environ.get("PROFILE_RUNS", "3"))
    from easy_sql_spark.session import build_session

    spark = build_session("profile", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)
    tracer = Tracer(spark)
    tracer.collect([])  # skip the warm-up's jobs

    print(f"{'query':<28} {'min_wall':>8} {'jobs':>5} {'stages':>6} {'tasks':>6}")
    for name in names:
        fn = query_fn(name)
        best = None
        for _ in range(runs):
            with tracer.span(name) as rec:
                noop(fn(spark, sf_dir))
            jobs = [j for j in tracer.collect([rec]) if j["job_id"] in rec["jobs"]]
            row = (
                rec["end"] - rec["start"],
                len(jobs),
                sum(j["stages"] for j in jobs),
                sum(j["tasks"] for j in jobs),
            )
            best = min(best or row, row)
        print(f"{name:<28} {best[0]:8.3f} {best[1]:>5} {best[2]:>6} {best[3]:>6}")
    spark.stop()


if __name__ == "__main__":
    main()
