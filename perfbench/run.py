"""End-to-end benchmark of the easy_sql step language on Spark.

Each workload runs real pipelines from ``examples/`` through
``SqlProcessor.run`` on a ``build_session`` session, all in this one
process, on ``local[<usable cores>]``.  A *pass* registers the workload's
source views with ``datasets.register_views`` (as a real ETL reads its
sources) and runs every pipeline once, in an order shuffled by the seed.
The first pass in the process is the cold pass; the warm passes that
follow fill ``--seconds``.  After every pass the outputs are checked
independently (``verify.py``), the pass's files are counted and removed,
and the session is reset, so every pass starts from the same state.

    python3 perfbench/run.py --workload analytics_read --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps each
layer's public entry point (``spans.py``) and prints the per-layer ones.
Inputs are generated from the seed (``datagen.py``).  Everything the run
writes stays under ``perfbench/.work`` (removed at exit) and the
artifact ``perfbench/out/<workload>-seed<seed>-trace<0|1>.json``.  The
last line of standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

import datagen
import envinfo
import verify
from spans import Tracer, self_time, union_length

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXAMPLES = os.path.join(ROOT, "examples")

# Why each workload exists: see README.md.  BENCHMARK.json runs
# analytics_read and lakehouse_commit; warehouse_write stays runnable here.
WORKLOADS = {
    "analytics_read": {
        "pipelines": ("sample_etl.spark.sql", "event_analytics.sql",
                      "data_selection_pipeline.sql", "governance_pipeline.sql"),
        "tables": ("customer", "events", "documents"),
    },
    "warehouse_write": {
        "pipelines": ("warehouse_maintenance.sql",),
        "tables": ("customer", "orders"),
    },
    "lakehouse_commit": {
        "pipelines": ("branch_workflow.sql", "lakehouse_interop.sql",
                      "batched_dedup_load.sql"),
        "tables": ("orders", "documents"),
    },
}
# Steal bursts on a shared host slow single passes by 20-30 %; the median of
# three warm passes keeps one such pass out of the figure.
MIN_WARM_PASSES = 3
HEAP = "2g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the warm-pass window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.01,
                    help="TPC-H-style scale factor of the generated inputs")
    return ap.parse_args(argv)


def tree_bytes(*roots: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``roots``."""
    size = files = 0
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.dirs = {k: os.path.join(self.work, k)
                     for k in ("data", "warehouse", "roots", "local", "tmp")}
        self.texts = {}
        for name in self.workload["pipelines"]:
            with open(os.path.join(EXAMPLES, name), encoding="utf-8") as f:
                self.texts[name] = f.read()
        self.passes: list[dict] = []
        self.tracer: Tracer | None = None

    # ------------------------------------------------------------- set-up
    def prepare(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        for d in self.dirs.values():
            os.makedirs(d)
        self.data = datagen.generate(self.dirs["data"], self.args.seed, self.args.scale)
        # keep every file Spark, the JVM and Python workers write in the run dir
        os.environ["TMPDIR"] = self.dirs["tmp"]
        os.environ["SPARK_LOCAL_DIRS"] = self.dirs["local"]
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))

    def start_session(self) -> float:
        t0 = time.time()
        from easy_sql_spark.session import build_session

        self.spark = build_session(
            app_name=f"perfbench-{self.args.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": self.dirs["warehouse"],
                # A fixed, pre-touched heap.  How far G1 grows a heap it may
                # size freely varies from run to run by hundreds of MB, and
                # peak RSS with it; pinned, peak RSS moves only with the
                # off-heap and Python memory the program uses.
                "spark.driver.memory": HEAP,
                "spark.driver.extraJavaOptions":
                    f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={self.dirs['tmp']} "
                    f"-Dderby.system.home={self.dirs['tmp']}",
            },
        )
        return time.time() - t0

    # --------------------------------------------------------------- pass
    def run_pass(self, kind: str, traced: bool) -> dict:
        from easy_sql_spark.datasets import register_views
        from easy_sql_spark.runtime.processor import SqlProcessor

        tracer = self.tracer if traced else None
        span = tracer.span if tracer else (lambda *a, **k: nullcontext())
        index = len(self.passes)
        token = f"{self.rng.getrandbits(32):08x}"
        roots = os.path.join(self.dirs["roots"], f"r{token}")
        variables = {"snap_root": os.path.join(roots, "snap"),
                     "lake_root": os.path.join(roots, "lake"),
                     "didx": os.path.join(roots, "didx")}
        order = list(self.workload["pipelines"])
        self.rng.shuffle(order)
        if tracer:
            tracer.install()
            tracer.pass_id = index
        first_span = len(tracer.spans) if tracer else 0
        errors, pipeline_s = [], {}
        env0 = envinfo.snapshot()
        t0 = time.time()
        with span("pass", kind=kind):
            with span("datasets.register_views"):
                register_views(self.spark, self.dirs["data"], self.workload["tables"])
            for name in order:
                tp, proc, run_span = time.time(), None, None
                try:
                    with span("core.parse", pipeline=name):
                        proc = SqlProcessor(self.spark, self.texts[name],
                                            variables=dict(variables),
                                            base_dir=EXAMPLES, logger=lambda m: None)
                    with span("processor.run", pipeline=name) as run_span:
                        proc.run()
                except Exception as e:  # a failed pass is counted, not fatal
                    errors.append(f"{name}: {type(e).__name__}: {e}"[:500])
                finally:
                    if tracer and proc is not None and run_span is not None:
                        tracer.attach_steps(run_span, proc.report)
                pipeline_s[name] = time.time() - tp
        wall = time.time() - t0
        env1 = envinfo.snapshot()
        if tracer:
            tracer.uninstall()
            tracer.pass_id = None
        rec = {
            "index": index, "kind": kind, "traced": traced, "wall_s": wall,
            "t_start": t0, "t_end": t0 + wall, "order": order,
            "pipeline_s": pipeline_s, "variables": variables,
            "steal_ticks": env1["steal_ticks"] - env0["steal_ticks"],
            "loadavg_1m": env1["loadavg_1m"], "nproc": env1["nproc"],
        }
        if tracer:
            rec["jobs"] = tracer.collect(tracer.spans[first_span:])
            rec["spans"] = (first_span, len(tracer.spans))
        try:
            errors += verify.check(self.args.workload, self.spark, self.data,
                                   self.dirs["warehouse"])
        except Exception as e:
            errors.append(f"verify: {type(e).__name__}: {e}"[:500])
        rec["write_bytes"], rec["write_files"] = tree_bytes(
            self.dirs["warehouse"], self.dirs["roots"])
        self.reset()
        residue = tree_bytes(self.dirs["warehouse"], self.dirs["roots"])[0]
        if residue:
            errors.append(f"{residue} bytes left on disk after the reset")
        if self.passes and rec["write_bytes"] > 1.01 * self.passes[0]["write_bytes"] + 65536:
            errors.append(f"on-disk bytes grew: {rec['write_bytes']} after pass "
                          f"{index}, {self.passes[0]['write_bytes']} after pass 0")
        rec["errors"] = errors
        self.passes.append(rec)
        return rec

    def reset(self) -> None:
        """Return the session and the disk to the state before the pass."""
        spark = self.spark
        for t in spark.catalog.listTables():
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)
        spark.catalog.clearCache()
        for db in spark.catalog.listDatabases():
            if db.name != "default":
                spark.sql(f"drop database if exists `{db.name}` cascade")
        for d in ("warehouse", "roots"):
            shutil.rmtree(self.dirs[d])
            os.makedirs(self.dirs[d])

    # ------------------------------------------------------------ metrics
    def peak_rss_by_pid(self) -> dict[int, float]:
        """Peak RSS of this process and of each child (the JVM), in MB."""
        pids = [os.getpid()] + envinfo.children(os.getpid())
        return {pid: envinfo.peak_rss_kb(pid) / 1024.0 for pid in pids}

    def layer_metrics(self, rec: dict) -> dict:
        """Per-layer metrics of one traced pass.  Every time here is non-zero
        on every workload: the layers that only some workloads use are
        folded together (``write.commit_s``; step walls split into func and
        SQL steps), and their finer split stays in the artifact's spans."""
        spans = self.tracer.spans[rec["spans"][0]:rec["spans"][1]]
        kids: dict[int, list] = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)
        by_id = {s["id"]: s for s in spans}

        def under(s):
            return len(s["jobs"]) + sum(under(c) for c in kids.get(s["id"], []))

        def outermost(s):
            p = by_id.get(s["parent"])
            return p is None or p["name"] != s["name"]

        def named(name):
            return [s for s in spans if s["name"] == name]

        def self_s(*names):
            return sum(self_time(s, kids.get(s["id"], [])) for n in names for s in named(n))

        def direct_jobs(name):
            return sum(len(s["jobs"]) for s in named(name))

        jobs = [j for j in rec["jobs"] if rec["t_start"] <= j["start"] <= rec["t_end"]]
        intervals = [(j["start"], min(j["end"] or rec["t_end"], rec["t_end"])) for j in jobs]
        steps = named("processor.step")
        return {
            "datasets.load_s": sum(s["end"] - s["start"] for s in named("datasets.register_views")),
            "datasets.jobs": sum(under(s) for s in named("datasets.register_views")),
            "core.parse_s": self_s("core.parse"),
            "core.expand_s": self_s("core.expand"),
            "core.expand_calls": len(named("core.expand")),
            "backend.build_s": self_s("backend.exec_sql", "backend.view"),
            "backend.exec_sql_jobs": direct_jobs("backend.exec_sql"),
            "catalyst.plan_s": sum(sum(s.get("catalyst_ms", {}).values())
                                   for s in named("backend.exec_sql")) / 1000.0,
            "exec.jobs": len(jobs),
            "exec.stages": sum(j["stages"] for j in jobs),
            "exec.tasks": sum(j["tasks"] for j in jobs),
            "exec.job_s": sum(b - a for a, b in intervals),
            "driver.gap_s": rec["wall_s"] - union_length(intervals),
            "processor.self_s": self_s("processor.run", "processor.step"),
            "processor.jobs": direct_jobs("processor.run") + direct_jobs("processor.step"),
            "processor.step_s.func": sum(s["end"] - s["start"] for s in steps if s["step_type"] == "func"),
            "processor.step_s.sql": sum(s["end"] - s["start"] for s in steps if s["step_type"] != "func"),
            "functions.call_s": self_s("functions.call"),
            "functions.calls": len(named("functions.call")),
            "functions.jobs": direct_jobs("functions.call"),
            "write.commit_s": self_s("backend.save", "snapshots.commit", "dedup_index.ingest"),
            "backend.save_jobs": direct_jobs("backend.save"),
            "snapshots.commits": sum(1 for s in named("snapshots.commit") if outermost(s)),
            "snapshots.jobs": direct_jobs("snapshots.commit"),
            "dedup_index.jobs": direct_jobs("dedup_index.ingest"),
            "pass.glue_s": self_s("pass"),
            "write.bytes": rec["write_bytes"],
            "write.files": rec["write_files"],
        }


def unit_of(metric: str) -> str:
    if metric.endswith(("jobs", "stages", "tasks", "calls", "commits", "files")):
        return "count"
    if metric.endswith("bytes"):
        return "bytes"
    return "MB" if metric.endswith("_mb") else "s"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "easy_sql_spark")) or not os.path.isdir(EXAMPLES):
        print(f"perfbench: no easy_sql_spark package and examples/ under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run = Run(args)
    run.prepare()
    env_start = envinfo.snapshot()
    try:
        setup_s = run.start_session()
        if args.trace:
            run.tracer = Tracer(run.spark)
        run.run_pass("cold", traced=bool(args.trace))
        window0 = time.time()
        while len(run.passes) < 1 + MIN_WARM_PASSES or time.time() - window0 < args.seconds:
            run.run_pass("warm", traced=bool(args.trace))
        rss = run.peak_rss_by_pid()
    finally:
        stop_session(run)
        shutil.rmtree(run.work, ignore_errors=True)
    env_end = envinfo.snapshot()

    warm_passes = run.passes[1:]
    warm_pass_s = statistics.median(p["wall_s"] for p in warm_passes)
    failed = sum(1 for p in run.passes if p["errors"])
    if args.trace:
        per_pass = [run.layer_metrics(p) for p in warm_passes]
        metrics = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        # compared with the untraced run of the same seed, these give the
        # tracing overhead
        metrics["trace.cold_pass_s"] = run.passes[0]["wall_s"]
        metrics["trace.warm_pass_s"] = warm_pass_s
        metrics["session.build_s"] = setup_s
    else:
        metrics = {
            "setup_s": setup_s,
            "cold_pass_s": run.passes[0]["wall_s"],
            "warm_pass_s": warm_pass_s,
            "peak_rss_mb": sum(rss.values()),
        }
    units = {k: unit_of(k) for k in metrics}

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "rows": datagen.row_counts(args.scale),
        "pipelines_sha256": {n: hashlib.sha256(t.encode()).hexdigest()
                             for n, t in run.texts.items()},
        "env_start": env_start, "env_end": env_end, "peak_rss_mb_by_pid": rss,
        "warm_samples": len(warm_passes), "attempted": len(run.passes), "failed": failed,
        "fail_ratio": failed / len(run.passes),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        "passes": run.passes,
        "spans": run.tracer.spans if run.tracer else [],
        "missing_hooks": run.tracer.missing_hooks if run.tracer else [],
    }
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, default=str)

    print(f"workload {args.workload}  seed {args.seed}  scale {args.scale}  "
          f"passes {len(run.passes)} (1 cold, {len(warm_passes)} warm)")
    for k, v in metrics.items():
        print(f"  {k:<28} {v:>14.4f} {units[k]}")
    print(f"  {'fail_ratio':<28} {failed / len(run.passes):>14.4f} ratio ({failed}/{len(run.passes)})")
    print(f"  steal {env_end['steal_ticks'] - env_start['steal_ticks']} ticks "
          f"(cumulative {env_end['steal_ticks']}), loadavg {env_end['loadavg_1m']:.2f}, "
          f"nproc {env_end['nproc']}; artifact {os.path.relpath(path, ROOT)}")
    for p in run.passes:
        for e in p["errors"]:
            print(f"  pass {p['index']} FAILED: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(run.passes), "failed": failed,
        "metrics": artifact["metrics"],
    }))
    return 0


def stop_session(run: Run) -> None:
    """Stop Spark and its JVM, and wait for the JVM to exit."""
    spark = getattr(run, "spark", None)
    if spark is None:
        return
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
