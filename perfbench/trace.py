"""Per-layer tracing from outside the program.

``Tracer.install`` replaces the public functions of each layer module
with timing wrappers. ``core/engine.py`` calls its layers through module
attributes (``row_dq.project_flags``, ``writer.write_batch``, ...), so the
wrappers see every call the engine makes. Each open span also sets a
Spark job tag on its thread; after the run ``collect`` reads the tagged
jobs and their stages from the in-process status store (no UI needed)
and charges each job to its innermost open span.

``streaming.foreach_batch_dq`` only starts a query; its per-batch closure
is private, so the streaming layer is timed from the query's progress
reports instead (see ``run.run_stream``).
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Optional

TAG_PREFIX = "pbspan"

#: (module path, attribute path, layer) of every wrapped public call
WRAPPED = [
    ("spark_expectations_spark.core.rules", "RuleSet.__init__", "core.rules"),
    ("spark_expectations_spark.core.rules", "RuleSet.for_stage", "core.rules"),
    ("spark_expectations_spark.core.engine", "DQEngine.run", "core.engine"),
    ("spark_expectations_spark.operators.row_dq", "project_flags", "operators.row_dq"),
    ("spark_expectations_spark.operators.row_dq", "summarize_flags", "operators.row_dq"),
    ("spark_expectations_spark.operators.row_dq", "summarize_flags_with", "operators.row_dq"),
    ("spark_expectations_spark.operators.row_dq", "errors_from_flags", "operators.row_dq"),
    ("spark_expectations_spark.operators.row_dq", "final_from_flags", "operators.row_dq"),
    ("spark_expectations_spark.operators.agg_dq", "rule_agg_exprs", "operators.agg_dq"),
    ("spark_expectations_spark.operators.agg_dq", "evaluate_agg_rules", "operators.agg_dq"),
    ("spark_expectations_spark.operators.query_dq", "evaluate_query_rules", "operators.query_dq"),
    ("spark_expectations_spark.sinks.writer", "write_batch", "sinks.writer"),
    ("spark_expectations_spark.sinks.writer", "stamp_run_metadata", "sinks.writer"),
    ("spark_expectations_spark.sinks.writer", "stats_df", "sinks.writer"),
    ("spark_expectations_spark.sinks.writer", "detailed_stats_df", "sinks.writer"),
]

DQ_LAYERS = ("operators.row_dq", "operators.agg_dq", "operators.query_dq",
             "sinks.writer", "final_write")
OPS_LAYERS = ("operators.graph", "operators.linkage", "operators.dedup",
              "operators.similarity")
LAYERS = ("core.rules", "core.engine") + DQ_LAYERS + OPS_LAYERS

COUNTERS = ("jobs", "stages", "tasks_failed", "task_s", "cpu_s",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "input_records", "bytes_written", "rows_written")


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: Optional["Span"]
    depth: int
    t0: float
    t1: float = 0.0
    job_intervals: list = field(default_factory=list)
    counts: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))

    def ancestors(self):
        p = self.parent
        while p is not None:
            yield p
            p = p.parent


def _resolve(module_path: str, attr_path: str):
    import importlib
    owner = importlib.import_module(module_path)
    *parents, name = attr_path.split(".")
    for p in parents:
        owner = getattr(owner, p)
    return owner, name


def _union_s(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Spans kept in memory; ``enabled`` switches recording per operation
    so traced and untraced operations interleave in one run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []

    # -------------------------------------------------------------- spans
    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sp = Span(next(self._ids), layer, name, parent,
                  parent.depth + 1 if parent else 0, time.time())
        tag = f"{TAG_PREFIX}{sp.id}"
        stack.append(sp)
        self.sc.addJobTag(tag)
        try:
            yield
        finally:
            self.sc.removeJobTag(tag)
            stack.pop()
            sp.t1 = time.time()
            with self._lock:
                self.spans.append(sp)

    def _wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)
        return wrapper

    def install(self) -> None:
        for module_path, attr_path, layer in WRAPPED:
            owner, name = _resolve(module_path, attr_path)
            orig = owner.__dict__[name] if isinstance(owner, type) else getattr(owner, name)
            self._patches.append((owner, name, orig))
            setattr(owner, name, self._wrap(orig, layer, attr_path))

    def uninstall(self) -> None:
        while self._patches:
            owner, name, orig = self._patches.pop()
            setattr(owner, name, orig)

    # ------------------------------------------------------------ collect
    def collect(self) -> None:
        """Charge every tagged job (and its stages) to its innermost span."""
        jobs, by_stage = status_store(self.sc)
        spans = {sp.id: sp for sp in self.spans}
        seen: set[int] = set()
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            owned = [spans[i] for i in (_span_id(t) for t in job["jobTags"])
                     if i in spans]
            if not owned:
                continue
            sp = max(owned, key=lambda s: s.depth)
            c = sp.counts
            c["jobs"] += 1
            if job.get("submissionTime") and job.get("completionTime"):
                sp.job_intervals.append((job["submissionTime"] / 1e3,
                                         job["completionTime"] / 1e3))
            for st in _new_stages(job, by_stage, seen):
                c["stages"] += 1
                c["tasks_failed"] += st["numFailedTasks"]
                c["task_s"] += st["executorRunTime"] / 1e3
                c["cpu_s"] += st["executorCpuTime"] / 1e9
                c["shuffle_read_bytes"] += st["shuffleReadBytes"]
                c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                c["spill_bytes"] += (st["memoryBytesSpilled"]
                                     + st["diskBytesSpilled"])
                c["input_records"] += st["inputRecords"]
                c["bytes_written"] += st["outputBytes"]
                c["rows_written"] += st["outputRecords"]

    def layer_totals(self, cores: int) -> dict[str, dict[str, float]]:
        """Per layer: busy_s (outermost spans of the layer), self_s (minus
        child spans), build_s (self time outside the span's own jobs),
        sched_gap_s (self_s - task_s / cores; equal to busy_s - task_s /
        cores for layers with no child spans) and the job counters."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent.id, []).append(sp)
        out = {layer: dict(busy_s=0.0, self_s=0.0, build_s=0.0,
                           **dict.fromkeys(COUNTERS, 0)) for layer in LAYERS}
        for sp in self.spans:
            t = out[sp.layer]
            dur = sp.t1 - sp.t0
            if all(a.layer != sp.layer for a in sp.ancestors()):
                t["busy_s"] += dur
            kids = [(k.t0, k.t1) for k in children.get(sp.id, ())]
            self_s = dur - _union_s(kids)
            t["self_s"] += self_s
            own_jobs = [(max(a, sp.t0), min(b, sp.t1)) for a, b in sp.job_intervals]
            t["build_s"] += max(0.0, dur - _union_s(kids + own_jobs))
            for k in COUNTERS:
                t[k] += sp.counts[k]
        for t in out.values():
            t["sched_gap_s"] = t["self_s"] - t["task_s"] / cores
        return out


def status_store(sc) -> tuple[list[dict], dict[int, list[dict]]]:
    """All jobs, and every stage attempt by stage id, from the in-process
    status store (filled with the UI off), once the listener bus drains."""
    jsc, jvm = sc._jsc.sc(), sc._jvm
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(getattr(
        jvm.com.fasterxml.jackson.module.scala,
        "DefaultScalaModule$").__getattr__("MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(mapper.writeValueAsString(store.stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList())))
    by_stage: dict[int, list[dict]] = {}
    for st in stages:
        by_stage.setdefault(st["stageId"], []).append(st)
    return jobs, by_stage


def _new_stages(job: dict, by_stage: dict, seen: set[int]):
    """The stage attempts a job ran. A shuffle stage reused by a later job
    is listed by both; it ran once, for the first (``seen`` holds the
    stage ids already charged)."""
    for sid in sorted(set(job["stageIds"]) - seen):
        seen.add(sid)
        for st in by_stage.get(sid, ()):
            if st["status"] != "SKIPPED":
                yield st


def executor_cpu_s(sc, t0: float, t1: float, tag: Optional[str] = None) -> float:
    """Executor CPU seconds of the jobs submitted between t0 and t1 (epoch)
    and, if ``tag`` is given, carrying that job tag; each stage once."""
    jobs, by_stage = status_store(sc)
    seen: set[int] = set()
    total = 0.0
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        sub = job.get("submissionTime")
        if not sub or not t0 <= sub / 1e3 <= t1:
            continue
        if tag is not None and not any(t.endswith("-" + tag) or t == tag
                                       for t in job["jobTags"]):
            continue
        total += sum(st["executorCpuTime"] / 1e9
                     for st in _new_stages(job, by_stage, seen))
    return total


def _span_id(tag: str) -> int:
    # session-scoped tags come back as spark-session-<id>-thread-<uuid>-<tag>
    tail = tag.rsplit("-", 1)[-1]
    if tail.startswith(TAG_PREFIX) and tail[len(TAG_PREFIX):].isdigit():
        return int(tail[len(TAG_PREFIX):])
    return -1
