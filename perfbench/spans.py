"""Spans around the public entry point of each layer, recorded from outside
the program, and the Spark jobs each span launched.

Every span runs its Spark work under its own job group
(``spark.jobGroup.id``), so after a pass the jobs read back from the
application's status store attach to the innermost span that launched
them.  Spans and jobs stay in memory and are written with the artifact
when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-span-"
PHASES = ("parsing", "analysis", "optimization", "planning")

# (module, owner, attribute) -> span name.  The owner is a class or the
# module itself; every entry is a public entry point of its layer.
HOOKS = {
    ("easy_sql_spark.datasets", None, "load_table"): "datasets.load_table",
    ("easy_sql_spark.core.step", "Step", "preprocess_sql"): "core.expand",
    ("easy_sql_spark.runtime.backend", "SparkBackend", "exec_sql"): "backend.exec_sql",
    ("easy_sql_spark.runtime.backend", "SparkBackend", "create_temp_view"): "backend.view",
    ("easy_sql_spark.runtime.backend", "SparkBackend", "create_cached_view"): "backend.view",
    ("easy_sql_spark.runtime.backend", "SparkBackend", "create_broadcast_view"): "backend.view",
    ("easy_sql_spark.runtime.backend", "SparkBackend", "save_table"): "backend.save",
    ("easy_sql_spark.runtime.backend", "SparkBackend", "create_bucketed_table"): "backend.save",
    ("easy_sql_spark.core.context", "FuncRunner", "run_func_call"): "functions.call",
    ("easy_sql_spark.operators.dedup_index", "MinHashDedupIndex", "ingest"): "dedup_index.ingest",
    ("easy_sql_spark.operators.dedup_index", "MinHashDedupIndex", "flush"): "dedup_index.ingest",
} | {
    ("easy_sql_spark.runtime.snapshots", "SnapshotTable", m): "snapshots.commit"
    for m in (
        "create", "append", "overwrite", "overwrite_partitions",
        "apply_changes", "merge", "delete_where", "delete_where_dv",
        "write_audit_publish", "compact", "rollback", "commit_batch",
        "add_constraint", "drop_constraint", "clone_to", "vacuum",
    )
}


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.pass_id: int | None = None
        self.missing_hooks: list[str] = []
        self._installed: list[tuple[object, str, object]] = []
        self._frames: list[tuple[dict, object]] = []
        self._next_job_id = 0

    # ---------------------------------------------------------------- spans
    def _set_group(self) -> None:
        gid = f"{GROUP_PREFIX}{self.stack[-1]}" if self.stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", gid)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self.stack[-1] if self.stack else None
        rec = self.add_span(name, time.time(), None, parent, **attrs)
        self.stack.append(rec["id"])
        self._set_group()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            self._set_group()

    def add_span(self, name: str, start: float, end: float | None,
                 parent: int | None, **attrs) -> dict:
        """Record a span; ``span`` opens one live, ``attach_steps`` adds
        the ones known only after the fact (the processor's step report)."""
        rec = {"id": len(self.spans), "name": name, "start": start, "end": end,
               "parent": parent, "pass": self.pass_id, "jobs": [], **attrs}
        self.spans.append(rec)
        return rec

    # ---------------------------------------------------------------- hooks
    def install(self) -> None:
        self.missing_hooks = []
        for (module, owner, attr), name in HOOKS.items():
            target = importlib.import_module(module)
            if owner is not None:
                target = getattr(target, owner, None)
            orig = getattr(target, attr, None) if target is not None else None
            if orig is None:
                self.missing_hooks.append(f"{module}.{owner or ''}.{attr}")
                continue
            setattr(target, attr, self._wrap(orig, name))
            self._installed.append((target, attr, orig))
        if self.missing_hooks:
            print(f"perfbench: not traced (absent): {self.missing_hooks}",
                  file=sys.stderr)

    def uninstall(self) -> None:
        for target, attr, orig in reversed(self._installed):
            setattr(target, attr, orig)
        self._installed.clear()

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if name == "backend.exec_sql":
                    tracer._frames.append((rec, out))
                return out

        return traced

    # ---------------------------------------------------- after each pass
    def attach_steps(self, run_span: dict, report) -> None:
        """Turn the processor's public step report into spans under
        ``run_span`` and move the spans that ran inside each step under it."""
        children = [s for s in self.spans if s["parent"] == run_span["id"]]
        for step in report.steps:
            if step.started_at is None:
                continue
            kind = step.target.split(".", 1)[0]
            rec = self.add_span("processor.step", step.started_at,
                                step.finished_at or step.started_at,
                                run_span["id"], step_type=kind,
                                status=step.status.value, target=step.target)
            for c in children:
                if rec["start"] <= c["start"] and c["end"] <= rec["end"]:
                    c["parent"] = rec["id"]

    def collect(self, pass_spans: list[dict]) -> list[dict]:
        """Read the jobs launched since the last call from Spark's status
        store, attach each to the span whose job group it ran under (or,
        for jobs launched by the processor itself, to the step running at
        submission), and record Catalyst's planning phases for every frame
        ``exec_sql`` built.  Returns the jobs."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        listed = jsc.statusStore().jobsList(None)  # newest first
        jobs = []
        for i in range(listed.size()):
            j = listed.apply(i)
            if j.jobId() < self._next_job_id:
                break
            group = j.jobGroup().getOrElse(None) if j.jobGroup().isDefined() else None
            end = j.completionTime()
            jobs.append({
                "job_id": j.jobId(),
                "group": group,
                "start": j.submissionTime().get().getTime() / 1000.0,
                "end": end.get().getTime() / 1000.0 if end.isDefined() else None,
                "stages": j.numCompletedStages() + j.numFailedStages(),
                "tasks": j.numCompletedTasks() + j.numFailedTasks(),
                "status": j.status().toString(),
            })
        if jobs:
            self._next_job_id = max(j["job_id"] for j in jobs) + 1
        jobs.reverse()
        by_id = {s["id"]: s for s in pass_spans}
        steps = [s for s in pass_spans if s["name"] == "processor.step"]
        for job in jobs:
            owner = None
            if job["group"] and job["group"].startswith(GROUP_PREFIX):
                owner = by_id.get(int(job["group"][len(GROUP_PREFIX):]))
            if owner is not None and owner["name"] == "processor.run":
                owner = next((s for s in steps if s["parent"] == owner["id"]
                              and s["start"] <= job["start"] <= s["end"]), owner)
            if owner is not None:
                owner["jobs"].append(job["job_id"])
        for rec, df in self._frames:
            tracker = df._jdf.queryExecution().tracker().phases()
            rec["catalyst_ms"] = {
                ph: tracker.get(ph).get().durationMs()
                for ph in PHASES if tracker.get(ph).isDefined()
            }
        self._frames.clear()
        return jobs


def self_time(span: dict, children: list[dict]) -> float:
    """Duration minus the part of it the (sequential) children cover."""
    covered = sum(
        max(0.0, min(c["end"], span["end"]) - max(c["start"], span["start"]))
        for c in children
    )
    return span["end"] - span["start"] - covered


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total time covered by at least one of the intervals."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > reach:
            total += end - max(start, reach)
            reach = end
    return total
