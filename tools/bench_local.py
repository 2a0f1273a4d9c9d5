"""In-repo reproduction of the driver's bench conditions → BENCH_LOCAL.md.

Round-5 lesson (VERDICT r5, "Performance"): the builder's closing bench —
run per-query or in small subsets — claimed "no regression" while the
driver's full-session run showed 12 entries ≥1.5× slower.  The divergence
was CONTEXT, not code: the driver runs the whole bench (all families, the
write benches, one JVM, accumulated GC/shuffle/catalog state), so a query
timed alone sits in a much friendlier session than the same query timed
after 70 predecessors.

This tool runs EXACTLY the driver's workload (bench.py's HEADLINE order +
write benches, same session build, same noop sink) but with n runs per
query (default 5) and records per-query median + IQR + min into
BENCH_LOCAL.md, so context drift is visible in-repo BEFORE the driver
sees it.  Compare the medians here against the next BENCH_r{N}.json;
entries whose driver number falls outside [median - IQR, median + IQR]
are real movement, not noise.

Usage:  python tools/bench_local.py [n_runs]   (SPARK_GRAFT_SF_DIR honored)
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (  # noqa: E402  (driver workload)
    HEADLINE,
    control_timings,
    noop,
    query_fn,
    time_runs,
    warm_up,
    write_benches,
)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    from easy_sql_spark.session import build_session

    spark = build_session("bench_local", extra_conf={"spark.ui.enabled": "false"})
    warm_up(spark, sf_dir)  # identical to bench.py

    def walls(fn) -> list[float]:
        return [w for w, _ in time_runs(fn, n)]

    samples: dict[str, list[float]] = {}
    # the two bench.py controls FIRST: their bands are what makes a
    # BENCH_r{N} self-adjudicating (controls inside band = quiet run;
    # controls inflated = environmental, per-query deltas suspect)
    ctl_samples: dict[str, list[float]] = {}
    for _ in range(n):
        for cname, secs in control_timings(spark, sf_dir).items():
            ctl_samples.setdefault(cname, []).append(secs)
    for name in HEADLINE:
        fn = query_fn(name)
        samples[name] = walls(lambda: noop(fn(spark, sf_dir)))
        print(f"{name}: {min(samples[name]):.2f}s", file=sys.stderr, flush=True)

    for name, wfn in write_benches(spark, sf_dir).items():
        samples[name] = walls(wfn)
        print(f"{name}: {min(samples[name]):.2f}s", file=sys.stderr, flush=True)

    spark.stop()

    lines = [
        "# BENCH_LOCAL — driver-condition bench, in-repo",
        "",
        f"sf={sf}, n={n} runs per query, one session, driver order "
        "(bench.py HEADLINE + write benches).  `median ± IQR` is the noise",
        "band: a BENCH_r{N} value outside it is real movement.  bench.py",
        "itself reports min-of-runs; `min` here is directly comparable.",
        "",
        "**Control bands** (bench.py `control_timings`; a BENCH_r{N}'s",
        "`controls.start`/`controls.end` outside these bands means the run",
        "was load-contaminated and its per-query deltas are environmental):",
        "",
        "| control | median (s) | IQR (s) | min (s) | max (s) |",
        "|---|---|---|---|---|",
    ]
    for name, ts in ctl_samples.items():
        med = statistics.median(ts)
        qs = statistics.quantiles(ts, n=4) if len(ts) >= 2 else [ts[0]] * 3
        lines.append(
            f"| {name} | {med:.3f} | {qs[2] - qs[0]:.3f} "
            f"| {min(ts):.3f} | {max(ts):.3f} |"
        )
    lines += [
        "",
        "| query | median (s) | IQR (s) | min (s) |",
        "|---|---|---|---|",
    ]
    for name, ts in samples.items():
        med = statistics.median(ts)
        qs = statistics.quantiles(ts, n=4) if len(ts) >= 2 else [ts[0]] * 3
        iqr = qs[2] - qs[0]
        lines.append(f"| {name} | {med:.3f} | {iqr:.3f} | {min(ts):.3f} |")
    lines.append("")
    total_min = sum(min(ts) for ts in samples.values())
    total_med = sum(statistics.median(ts) for ts in samples.values())
    lines.append(
        f"**Totals:** sum-of-min {total_min:.1f}s, sum-of-median {total_med:.1f}s."
    )
    lines.append("")

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_LOCAL.md",
    )
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "bench_local_sum_min",
                "value": round(total_min, 3),
                "unit": "sec",
                "n": n,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
