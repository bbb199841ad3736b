"""Tracing for the traced run: spans around calls into sparkcheck's public
functions, recorded from the benchmark's side, plus Spark event-log
attribution by job tag.

:class:`Tracer` patches the listed functions and methods with wrappers that
record a span (name, thread, start, end, parent) and add the span's job tag
``pb.<name>`` to every Spark job the call launches from its thread. Spans stay in memory until
:meth:`Tracer.dump`. With tracing off the workloads' own :meth:`span`
calls cost one attribute check.

:func:`parse_event_log` reads Spark's (uncompressed, non-rolling) JSON
event log and returns per-job tags, task metrics and SQL executions.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import threading
import time
from collections import defaultdict
from typing import Any, Callable, Iterator

#: (module, attribute path, span name) — the public calls wrapped per layer
TARGETS = (
    ("sparkcheck.metrics", "MetricResolver.resolve", "metrics.resolve"),
    ("sparkcheck.validator", "Validator.validate", "validator.validate"),
    ("sparkcheck.spans", "span_violations", "spans.build"),
    ("sparkcheck.fused", "validate_and_extract", "fused.validate_and_extract"),
    ("sparkcheck.summarize", "suite_violations", "summarize.suite_violations"),
    ("sparkcheck.runner", "CheckpointRunner.run", "runner.run"),
    ("sparkcheck.runner", "ParquetStore.append", "store.append"),
    ("sparkcheck.runner", "ParquetStore.append_rows", "store.append_rows"),
    ("sparkcheck.runner", "ParquetStore.append_small", "store.append_small"),
    ("sparkcheck.runner", "ParquetStore.commit_partition", "store.commit"),
    ("sparkcheck.runner", "ParquetStore.committed_partitions", "store.committed_scan"),
    ("sparkcheck.states", "column_states", "states.column_states"),
    ("sparkcheck.states", "histogram_states", "states.histogram_states"),
    ("sparkcheck.sketches", "mg_states", "sketches.mg_states"),
    ("sparkcheck.sketches", "quantile_states", "sketches.quantile_states"),
)


class Span:
    __slots__ = ("name", "thread", "start", "end", "parent", "arg")

    def __init__(self, name: str, thread: int, start: float, parent: "Span | None",
                 arg: str | None):
        self.name, self.thread, self.start, self.parent, self.arg = (
            name, thread, start, parent, arg)
        self.end = start

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans and job tags. ``enabled`` toggles recording without
    re-patching, so traced and untraced passes alternate in one JVM."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.sc = None
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, arg: str | None = None) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        local_tags = self._local.__dict__.setdefault("tags", set())
        added = [t for t in (f"pb.{name}",) if t not in local_tags]
        for t in added:
            self.sc.addJobTag(t)
            local_tags.add(t)
        s = Span(name, threading.get_ident(), time.perf_counter(),
                 stack[-1] if stack else None, arg)
        stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            stack.pop()
            for t in added:
                self.sc.removeJobTag(t)
                local_tags.discard(t)
            with self._lock:
                self.spans.append(s)

    def _wrap(self, fn: Callable, name: str) -> Callable:
        tracer = self

        def wrapper(*args, **kwargs):
            arg = None
            if name == "store.append_small" or name == "store.append":
                arg = args[1] if len(args) > 1 else kwargs.get("table")
            with tracer.span(name, arg):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", name)
        wrapper.__doc__ = fn.__doc__
        return wrapper

    def install(self, sc) -> None:
        """Patch every target (after the final ``import sparkcheck``)."""
        self.sc = sc
        for mod_name, path, name in TARGETS:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            setattr(owner, attr, self._wrap(orig, name))

    # -- export --------------------------------------------------------------

    def dump(self, path: str) -> None:
        ids = {id(s): i for i, s in enumerate(self.spans)}
        rows = [{"id": ids[id(s)], "name": s.name, "thread": s.thread, "start": s.start,
                 "end": s.end, "arg": s.arg,
                 "parent": ids.get(id(s.parent)) if s.parent else None}
                for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(rows, f)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

PY_TIME = ("time to run Python workers",)
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def parse_event_log(path: str) -> dict[str, Any]:
    """Jobs (tags, stage ids), per-stage summed task metrics and SQL
    executions (start/end wall ms, plan node names) from one application's
    event log file."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    task = defaultdict(lambda: defaultdict(float))
    sql: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tags = (ev.get("Properties") or {}).get("spark.job.tags", "")
                jid = ev["Job ID"]
                jobs[jid] = {"tags": set(t for t in tags.split(",") if t),
                             "time": ev["Submission Time"], "stages": ev["Stage IDs"]}
                for s in ev["Stage IDs"]:
                    stage_job.setdefault(s, jid)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                t = task[ev["Stage ID"]]
                t["tasks"] += 1
                t["run_ms"] += m.get("Executor Run Time", 0)
                t["cpu_ns"] += m.get("Executor CPU Time", 0)
                t["gc_ms"] += m.get("JVM GC Time", 0)
                t["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                t["shuffle_w_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                t["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name")
                    if name in PY_TIME:
                        t["py_ms"] += float(acc.get("Update", 0))
                    elif name in PY_BYTES:
                        t["py_b"] += float(acc.get("Update", 0))
            elif kind == "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart":
                sql[ev["executionId"]] = {"time": ev["time"],
                                          "plan": ev.get("physicalPlanDescription", ""),
                                          "nodes": _node_names(ev.get("sparkPlanInfo", {}))}
    return {"jobs": jobs, "stage_job": stage_job, "task": task, "sql": sql}


def _node_names(info: dict) -> list[str]:
    out, todo = [], [info]
    while todo:
        n = todo.pop()
        if n.get("nodeName"):
            out.append(n["nodeName"])
        todo.extend(n.get("children", []))
    return out


def job_metrics(log: dict, job_ids: set[int]) -> dict[str, float]:
    """Summed task metrics over the stages of ``job_ids``."""
    out = defaultdict(float)
    stages = {s for j in job_ids for s in log["jobs"][j]["stages"]}
    for s in stages:
        if log["stage_job"].get(s) not in job_ids:
            continue
        for k, v in log["task"].get(s, {}).items():
            out[k] += v
    return out


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")


# ---------------------------------------------------------------------------
# per-pass layer metrics
# ---------------------------------------------------------------------------

MB = 1024 * 1024
STATE_TABLES = {"column_states": "states.column_states",
                "histogram_states": "states.histogram_states",
                "mg_states": "sketches.mg_states",
                "quantile_states": "sketches.quantile_states"}


def _has_ancestor(s: Span, name: str) -> bool:
    p = s.parent
    while p is not None:
        if p.name == name:
            return True
        p = p.parent
    return False


def _outer(spans: list[Span], name: str) -> list[Span]:
    return [s for s in spans if s.name == name and not _has_ancestor(s, name)]


def self_time(s: Span, spans: list[Span]) -> float:
    kids = [(c.start, c.end) for c in spans if c.parent is s]
    return s.dur - covered(kids)


def pass_layers(tracer: Tracer, p: Span, log: dict, epoch: float,
                corpus_path: str) -> dict[str, float]:
    """Layer metrics of one traced pass ``p`` (the harness's ``pass``
    span). ``epoch`` converts perf_counter seconds to the event log's wall
    milliseconds."""
    spans = [s for s in tracer.spans if p.start <= s.start <= p.end and s is not p]

    def total(name: str) -> float:
        return sum(s.dur for s in _outer(spans, name))

    def ms(t: float) -> float:
        return (t + epoch) * 1000.0

    def window_jobs(intervals: list[tuple[float, float]], tag: str | None = None) -> set[int]:
        return {j for j, job in log["jobs"].items()
                if any(ms(a) <= job["time"] <= ms(b) for a, b in intervals)
                and (tag is None or tag in job["tags"])}

    def window_sql(intervals: list[tuple[float, float]]) -> list[dict]:
        return [e for e in log["sql"].values()
                if any(ms(a) <= e["time"] <= ms(b) for a, b in intervals)]

    out: dict[str, float] = {}
    # engine totals over every job the pass submitted, from any thread
    jobs = window_jobs([(p.start, p.end)])
    m = job_metrics(log, jobs)
    out.update({
        "spark.jobs": len(jobs),
        "spark.tasks": m["tasks"],
        "spark.executor_run_s": m["run_ms"] / 1e3,
        "spark.executor_cpu_s": m["cpu_ns"] / 1e9,
        "spark.jvm_gc_s": m["gc_ms"] / 1e3,
        "spark.input_mb": m["input_b"] / MB,
        "spark.shuffle_write_mb": m["shuffle_w_b"] / MB,
        "spark.spill_mb": m["spill_b"] / MB,
        "spark.python_worker_s": m["py_ms"] / 1e3,
        "spark.python_bytes_mb": m["py_b"] / MB,
    })
    resolve = _outer(spans, "metrics.resolve")
    out["metrics.resolve_s"] = sum(s.dur for s in resolve)
    out["metrics.resolve_calls"] = len(resolve)
    out["metrics.jobs"] = len(window_jobs([(p.start, p.end)], "pb.metrics.resolve"))
    validate = _outer(spans, "validator.validate")
    out["validator.validate_s"] = sum(s.dur for s in validate)
    out["validator.self_s"] = out["validator.validate_s"] - sum(
        s.dur for s in resolve if _has_ancestor(s, "validator.validate"))
    out["spans.violations_s"] = total("spans.violations") + sum(
        s.dur for s in _outer(spans, "spans.build")
        if not _has_ancestor(s, "spans.violations"))
    fused = _outer(spans, "fused.validate_and_extract")
    out["fused.validate_and_extract_s"] = sum(s.dur for s in fused)
    out["fused.corpus_scans"] = sum(
        1 for e in window_sql([(s.start, s.end) for s in fused])
        if corpus_path in e["plan"] and "Scan parquet" in e["plan"])
    out["summarize.suite_violations_s"] = total("summarize.suite_violations")
    runs = _outer(spans, "runner.run")
    out["runner.run_s"] = sum(s.dur for s in runs)
    commits = sorted(s.end for s in spans if s.name == "store.commit")
    gaps = []
    for r in runs:
        marks = [r.start] + [c for c in commits if r.start <= c <= r.end]
        gaps += [b - a for a, b in zip(marks, marks[1:])]
    out["runner.partition_s"] = sorted(gaps)[len(gaps) // 2] if gaps else 0.0
    out["runner.partitions_run"] = len(commits)
    for short in ("append", "append_rows", "append_small", "commit", "committed_scan"):
        out[f"store.{short}_s"] = total(f"store.{short}")
    out["store.append_calls"] = sum(
        1 for s in spans if s.name in ("store.append", "store.append_rows",
                                       "store.append_small"))
    small = [s for s in spans if s.name == "store.append_small"]
    for table, name in STATE_TABLES.items():
        out[f"{name}_s"] = total(name) + sum(s.dur for s in small if s.arg == table)
    mg_sql = window_sql([(s.start, s.end) for s in small if s.arg == "mg_states"])
    execs = sum(sum(1 for n in e["nodes"] if "MapInArrow" in n) for e in mg_sql)
    out["sketches.mg_summarize_execs"] = execs / len(commits) if commits else 0
    top = [(s.start, s.end) for s in spans if s.parent is p]
    out["trace.coverage"] = covered(top) / p.dur if p.dur else 0.0
    return out


def layer_table(tracer: Tracer, passes: list[Span]) -> str:
    """Human-readable per-layer table over the traced passes: inclusive
    and self seconds per span name, plus the pass time no span covers."""
    agg: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0, 0])
    other = 0.0
    for p in passes:
        spans = [s for s in tracer.spans if p.start <= s.start <= p.end and s is not p]
        for s in spans:
            a = agg[s.name]
            a[0] += s.dur
            a[1] += self_time(s, spans)
            a[2] += 1
        other += p.dur - covered([(s.start, s.end) for s in spans if s.parent is p])
    lines = [f"{'layer':40s} {'incl_s':>9s} {'self_s':>9s} {'calls':>6s}"]
    for name, (inc, slf, n) in sorted(agg.items(), key=lambda kv: -kv[1][1]):
        lines.append(f"{name:40s} {inc:9.3f} {slf:9.3f} {n:6d}")
    lines.append(f"{'other':40s} {other:9.3f} {other:9.3f} {'':>6s}")
    return "\n".join(lines)
