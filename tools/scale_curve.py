"""3-point scale curves (sf0.01 -> sf0.1 -> sf1) for the expensive
families — the measured backing for SCALE.md's 100 TB cost-shape claims
(VERDICT r10 ask #5).

For each representative query the harness times n runs at each SF in
ONE session (same JVM, warmed) and reports the per-leg growth exponent
``b = log10(t_hi / t_lo)`` (data grows 10x per leg, so b == 1 is
perfectly linear, b < 1 sub-linear — fixed per-query overheads
amortizing — and b > 1 super-linear, the flag condition).  The sf1
fixture is the referentially-consistent 10x replication of sf0.1
(tools/make_scaled_fixture.py), so join fan-in, group sizes, and
per-user event counts stay constant across legs — growth measures
CORPUS SIZE, not skew drift.

The 0.01 -> 0.1 leg is dominated by per-query constants (~0.2 s of
plan/setup at sf0.01) and is reported for completeness; the load-bearing
exponent is 0.1 -> 1, where both points are compute-bound.

Usage:
    python tools/scale_curve.py [n_runs]    # default 3
Prints one JSON line per query + a summary table to stderr.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import noop, time_runs, warm_up, write_benches  # noqa: E402

SF_DIRS = [
    ("0.01", "/root/testdata/sf0.01"),
    ("0.1", "/root/testdata/sf0.1"),
    ("1", os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")),
]
# optional 4th point (r12 ask #4): another order of magnitude for the
# honest data-volume families.  Enabled only when the fixture env var
# is set (tools/make_scaled_fixture.py sf0.1 x100 -> ~60M lineitem).
if os.environ.get("SPARK_GRAFT_SF10_DIR"):
    SF_DIRS.append(("10", os.environ["SPARK_GRAFT_SF10_DIR"]))

#: family -> representative registry queries (write uses bench thunks)
REPS = {
    "dedup": ["dedup_minhash_lsh", "dedup_index_incremental"],
    "sim": ["sim_semantic_dedup", "sim_ivf_topk"],
    "multimodal": ["mm_image_ahash", "mm_jpeg_roundtrip_stats"],
    "pipeline": ["events_sessionize_batch", "text_lm_perplexity"],
}
WRITE_REPS = ["write_zorder", "write_upsert_merge"]


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    from easy_sql_spark.queries import QUERIES
    from easy_sql_spark.session import build_session

    spark = build_session("scale_curve", extra_conf={"spark.ui.enabled": "false"})
    warm_up(spark, SF_DIRS[0][1])

    rows = []
    for fam, names in {**REPS, "write": WRITE_REPS}.items():
        for name in names:
            if only is not None and name not in only:
                continue
            medians = {}
            for sf, d in SF_DIRS:
                if not os.path.isdir(d):
                    print(f"missing fixture {d}; run "
                          "tools/make_scaled_fixture.py", file=sys.stderr)
                    return
                if fam == "write":
                    fn = write_benches(spark, d)[name]
                else:
                    q = QUERIES[name]
                    fn = lambda: noop(q(spark, d))  # noqa: E731
                runs = [w for w, _ in time_runs(fn, n)]
                medians[sf] = round(statistics.median(runs), 3)
            import math

            b1 = math.log10(medians["0.1"] / medians["0.01"])
            b2 = math.log10(medians["1"] / medians["0.1"])
            row = {
                "family": fam,
                "query": name,
                "t_sf0.01": medians["0.01"],
                "t_sf0.1": medians["0.1"],
                "t_sf1": medians["1"],
                "exp_0.01_to_0.1": round(b1, 2),
                "exp_0.1_to_1": round(b2, 2),
                "super_linear": b2 > 1.05,
            }
            if "10" in medians:
                b3 = math.log10(medians["10"] / medians["1"])
                row["t_sf10"] = medians["10"]
                row["exp_1_to_10"] = round(b3, 2)
                row["super_linear"] = row["super_linear"] or b3 > 1.05
            rows.append(row)
            print(json.dumps(row), flush=True)
            print(
                f"{fam:>10} {name:<28} {medians['0.01']:>7.3f} "
                f"{medians['0.1']:>7.3f} {medians['1']:>8.3f}  "
                f"b={b2:+.2f}{'  ** SUPER-LINEAR' if b2 > 1.05 else ''}",
                file=sys.stderr, flush=True,
            )
    flagged = [r["query"] for r in rows if r["super_linear"]]
    print(json.dumps({"flagged_super_linear": flagged}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
