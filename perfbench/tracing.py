"""Span tracing around the library's layers, joined with Spark's own
job / stage / task records.

A layer is one module of the library. ``Tracer.install`` wraps every
public function of each layer module (and every public method of the
classes it defines) from the benchmark's side; the library itself is
not edited. Each wrapped call records a span (name, start, end, parent,
op id) and sets a Spark job group named after the span, so every job
Spark launches maps to the innermost span that launched it. Jobs that
run outside any span inside an op are the op's consuming action.

Spans stay in memory; ``write`` puts them on disk once the run ends.
The Spark side is read from the event log the traced session writes.
The tracer times its own bookkeeping (span records and job-group
calls), which is the overhead the traced run reports.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PACKAGE = "hippollm_spark"
LAYERS = [
    "store",
    "serving",
    "pipelines.retrieve",
    "pipelines.annotate",
    "pipelines.curate",
    "operators.relational",
    "operators.knn",
    "operators.similarity",
    "operators.graph",
    "operators.dedup",
    "operators.ranks",
]
LAYER_FIELDS = ("calls", "wall_ms", "self_ms", "jobs", "errors")
SPARK_FIELDS = (
    ("construct_jobs", "count"),
    ("action_jobs", "count"),
    ("action_ms", "ms"),
    ("task_run_ms", "ms"),
    ("task_cpu_ms", "ms"),
    ("jvm_gc_ms", "ms"),
    ("scheduler_delay_ms", "ms"),
    ("stages", "count"),
    ("tasks", "count"),
    ("single_task_stages", "count"),
    ("failed_tasks", "count"),
    ("shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("python_udf_rows", "count"),
    ("peak_exec_mb", "MB"),
    ("storage_mb_end", "MB"),
    ("scan_rows_per_result", "ratio"),
)
PROC_FIELDS = (
    ("peak_rss_mb", "MB"),
    ("driver_cpu_s", "s"),
    ("trace_overhead_pct", "%"),
    ("span_coverage_pct", "%"),
)
RATIO_FIELDS = (
    "pipelines.annotate.facts_kept_ratio",
    "operators.similarity.probe_recall",
)
# Physical operators that run Python code in the workers.
PYTHON_NODES = ("Python", "Pandas", "MapInArrow")
MB = 1024 * 1024


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {}
    for layer in LAYERS:
        for f in LAYER_FIELDS:
            units[f"{layer}.{f}"] = "ms" if f.endswith("_ms") else "count"
    units.update({f"spark.{n}": u for n, u in SPARK_FIELDS})
    units.update({f"proc.{n}": u for n, u in PROC_FIELDS})
    units.update({n: "ratio" for n in RATIO_FIELDS})
    return units


@dataclass
class Span:
    id: int
    name: str     # layer.function
    layer: str
    parent: int | None
    op: int
    start: float  # perf_counter seconds
    end: float = 0.0
    error: bool = False


class Tracer:
    """Wraps layer functions and records spans while ``enabled``."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None
        self._op_group: str | None = None
        self._undo: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    # -- installation ------------------------------------------------------

    def install(self) -> None:
        wrapper_of: dict[int, object] = {}  # id(original function) -> wrapper
        for layer in LAYERS:
            mod = importlib.import_module(f"{PACKAGE}.{layer}")
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    wrapped = self._wrap(layer, name, obj)
                    wrapper_of[id(obj)] = wrapped
                    self._set(mod, name, wrapped)
                elif inspect.isclass(obj):
                    for mname, raw in list(vars(obj).items()):
                        if mname.startswith("_"):
                            continue
                        if isinstance(raw, (classmethod, staticmethod)):
                            fn = raw.__func__
                            wrapped = type(raw)(self._wrap(layer, f"{name}.{mname}", fn))
                        elif inspect.isfunction(raw):
                            wrapped = self._wrap(layer, f"{name}.{mname}", raw)
                        else:
                            continue
                        self._set(obj, mname, wrapped)
        # names bound by ``from module import function`` elsewhere in the
        # package still point at the originals: repoint them too
        for mname, mod in list(sys.modules.items()):
            if mod is None or not mname.startswith(PACKAGE):
                continue
            for name, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and id(obj) in wrapper_of:
                    self._set(mod, name, wrapper_of[id(obj)])

    def _set(self, owner, name: str, value) -> None:
        self._undo.append((owner, name, vars(owner)[name]))
        setattr(owner, name, value)

    def uninstall(self) -> None:
        for owner, name, value in reversed(self._undo):
            setattr(owner, name, value)
        self._undo.clear()

    def _wrap(self, layer: str, fname: str, fn):
        tracer = self
        span_name = f"{layer}.{fname}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled or tracer._op is None:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            parent = tracer._stack[-1] if tracer._stack else None
            span = Span(
                len(tracer.spans), span_name, layer,
                parent.id if parent else None, tracer._op, 0.0,
            )
            tracer.spans.append(span)
            tracer._stack.append(span)
            tracer._group(f"s{span.id}")
            span.start = time.perf_counter()
            tracer.overhead_s += span.start - t0
            try:
                return fn(*args, **kwargs)
            except BaseException:
                span.error = True
                raise
            finally:
                span.end = time.perf_counter()
                tracer._stack.pop()
                tracer._group(
                    f"s{tracer._stack[-1].id}" if tracer._stack else tracer._op_group
                )
                tracer.overhead_s += time.perf_counter() - span.end

        return wrapper

    def _group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    # -- op scope ----------------------------------------------------------

    @contextmanager
    def op(self, op_id: int):
        """Scope of one benchmark op: jobs outside spans get the job
        group ``op<id>``."""
        t0 = time.perf_counter()
        self.enabled = True
        self._op = op_id
        self._op_group = f"op{op_id}"
        self._group(self._op_group)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._op = None
            self._op_group = None
            self.enabled = False
            self._group(None)
            self.overhead_s += time.perf_counter() - t1

    # -- reporting ---------------------------------------------------------

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its children cover (children of one
    span never overlap: one client thread)."""
    child = {s.id: 0.0 for s in spans}
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    return {s.id: (s.end - s.start) - child[s.id] for s in spans}


def layer_metrics(spans: list[Span], job_group: dict[int, str]) -> dict[str, float]:
    """calls / wall_ms / self_ms / jobs / errors per layer. ``wall_ms``
    and ``jobs`` count a layer once per outermost call into it, so a
    layer calling itself is not counted twice; ``self_ms`` sums every
    span's own time."""
    by_id = {s.id: s for s in spans}
    self_t = self_times(spans)
    out = {f"{layer}.{f}": 0.0 for layer in LAYERS for f in LAYER_FIELDS}

    def ancestors(s: Span | None):  # s and every span above it
        while s is not None:
            yield s
            s = by_id.get(s.parent)

    for s in spans:
        out[f"{s.layer}.calls"] += 1
        out[f"{s.layer}.self_ms"] += self_t[s.id] * 1000
        out[f"{s.layer}.errors"] += int(s.error)
        if not any(a.layer == s.layer for a in ancestors(by_id.get(s.parent))):
            out[f"{s.layer}.wall_ms"] += (s.end - s.start) * 1000
    for group in job_group.values():
        if group.startswith("s"):  # launched inside a span
            for layer in {a.layer for a in ancestors(by_id[int(group[1:])])}:
                out[f"{layer}.jobs"] += 1
    return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _python_row_accumulators(plan: dict, acc: set[int]) -> None:
    if any(k in plan.get("nodeName", "") for k in PYTHON_NODES):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                acc.add(m["accumulatorId"])
    for c in plan.get("children", []):
        _python_row_accumulators(c, acc)


def read_event_log(paths: list[str]) -> tuple[dict[int, str], dict]:
    """Parse a Spark event log (its files in order). Returns (job id ->
    job group, raw per-stage and per-task facts for ``spark_metrics``)."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, int] = {}
    tasks: list[tuple[int, dict, dict, bool]] = []
    py_acc: set[int] = set()
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for st in ev.get("Stage Infos", []):
                        stage_job.setdefault(st["Stage ID"], jid)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    failed = bool(info.get("Failed")) or (
                        ev.get("Task End Reason", {}).get("Reason", "Success") != "Success"
                    )
                    tasks.append((ev["Stage ID"], info, ev.get("Task Metrics") or {}, failed))
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _python_row_accumulators(ev.get("sparkPlanInfo", {}), py_acc)
    return job_group, {
        "stage_job": stage_job, "stage_tasks": stage_tasks, "tasks": tasks, "py_acc": py_acc,
    }


def spark_metrics(job_group: dict[int, str], raw: dict) -> dict[str, float]:
    """Engine metrics over the jobs in ``job_group``: a job whose group
    is a span was launched while building a result (construction), any
    other job by the op's consuming action."""
    jobs = set(job_group)
    stages = {s for s, j in raw["stage_job"].items() if j in jobs and s in raw["stage_tasks"]}
    out = {
        "construct_jobs": sum(1 for j in jobs if job_group[j].startswith("s")),
        "action_jobs": sum(1 for j in jobs if not job_group[j].startswith("s")),
        "stages": len(stages),
        "single_task_stages": sum(1 for s in stages if raw["stage_tasks"][s] == 1),
        "tasks": 0, "failed_tasks": 0, "task_run_ms": 0.0, "task_cpu_ms": 0.0,
        "jvm_gc_ms": 0.0, "scheduler_delay_ms": 0.0, "shuffle_read_mb": 0.0,
        "shuffle_write_mb": 0.0, "spill_mb": 0.0, "python_udf_rows": 0,
        "peak_exec_mb": 0.0, "records_read": 0,
    }
    for stage, info, m, failed in raw["tasks"]:
        if stage not in stages:
            continue
        out["tasks"] += 1
        out["failed_tasks"] += int(failed)
        run = m.get("Executor Run Time", 0)
        out["task_run_ms"] += run
        out["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        out["jvm_gc_ms"] += m.get("JVM GC Time", 0)
        dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        out["scheduler_delay_ms"] += max(
            0,
            dur - run - m.get("Executor Deserialize Time", 0)
            - m.get("Result Serialization Time", 0) - info.get("Getting Result Time", 0),
        )
        sr = m.get("Shuffle Read Metrics", {})
        out["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
        out["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
        out["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
        out["peak_exec_mb"] = max(out["peak_exec_mb"], m.get("Peak Execution Memory", 0) / MB)
        out["records_read"] += m.get("Input Metrics", {}).get("Records Read", 0)
        for acc in info.get("Accumulables", []):
            if acc.get("ID") in raw["py_acc"]:
                out["python_udf_rows"] += int(acc.get("Update", 0) or 0)
    return out


def event_log_files(directory: str) -> list[str]:
    """The one application's event log under ``directory``: a plain
    file, or a rolling-log directory of ``events_<n>_<app>`` parts."""
    names = [n for n in os.listdir(directory) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {names}")
    path = os.path.join(directory, names[0])
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    parts.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in parts]
