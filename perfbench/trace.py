"""Spans around calls into the program's layers, and their attribution.

The benchmark records spans from OUTSIDE the program: it wraps selected
public functions of each ``pq_spark`` module so that every call opens a
span (layer, name, start, end, parent) and tags the Spark jobs it starts
with a job group naming that span. After the Spark session stops, the
event log is parsed and each job's tasks (time, CPU, GC, shuffle, spill,
Python-worker bytes) and SQL plans (Exchanges, scans) are attributed to
the span whose group the job carries. Selected pandas-UDF factories are
wrapped too, so that the UDFs the program builds count the rows they
receive into Spark accumulators.

Self time of a span is its duration minus the part its children cover.
The wall time of the span's own Spark jobs is then moved out of the
layer's self time into the ``spark`` layer, so a layer's self time is the
driver-side work it does itself.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import time
from collections import defaultdict

import pandas as pd

GROUP_PREFIX = "pb"
PY_BYTES_METRICS = ("data sent to Python workers", "data returned from Python workers")
SPARK_FIELDS = (
    "jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "python_bytes",
    "exchanges", "scans", "cache_scans",
)


class Tracer:
    """Span recorder. Spans are kept in memory and attributed at the end."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.enabled = False
        self.udf_rows: dict[str, object] = {}  # key -> Spark accumulator
        self._stack: list[int] = []  # open spans; the benchmark is one client
        self._patched: list[tuple[object, str, object]] = []

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid]["name"])

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "parent": stack[-1] if stack else None,
            "layer": layer, "name": name, "t0": time.time(), "t1": None,
        })
        stack.append(sid)
        self._set_group(sid)
        try:
            yield sid
        finally:
            self.spans[sid]["t1"] = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    def wrap(self, fn, layer: str, name, outermost: bool = False):
        """``name``: the span label, or a callable building it from the
        call's arguments. ``outermost``: a recursive entry point (the
        planner) opens a span only for the outermost call of the layer."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            if outermost and self._stack and self.spans[self._stack[-1]]["layer"] == layer:
                return fn(*args, **kwargs)
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(layer, label):
                return fn(*args, **kwargs)

        return wrapper

    def _replace(self, modules: list, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` by ``make(original)``. A module-level
        function is also replaced where other loaded modules imported it
        by name, so calls through either reference see the replacement."""
        raw = inspect.getattr_static(owner, attr)
        is_static = isinstance(raw, staticmethod)
        fn = raw.__func__ if is_static else raw
        w = make(fn)
        self._patched.append((owner, attr, raw))
        setattr(owner, attr, staticmethod(w) if is_static else w)
        if inspect.ismodule(owner):
            for mod in modules:
                if mod is not owner and getattr(mod, attr, None) is fn:
                    self._patched.append((mod, attr, fn))
                    setattr(mod, attr, w)

    def install(self, modules: list, targets: list[tuple]) -> None:
        """``targets``: (owner, attr, layer, name, outermost)."""
        for owner, attr, layer, name, outermost in targets:
            self._replace(modules, owner, attr,
                          lambda fn: self.wrap(fn, layer, name, outermost))

    def count_udf_rows(self, modules: list, owner, attr: str, key: str) -> None:
        """``owner.attr`` is a factory returning a one-column scalar pandas
        UDF. While tracing is enabled, the UDFs it returns add the number
        of non-null rows they receive to the accumulator ``udf_rows[key]``,
        so the count is of the rows the program's own plans hand to Python."""
        from pyspark.sql.functions import pandas_udf

        acc = self.udf_rows[key] = self.sc.accumulator(0)

        def make(factory):
            @functools.wraps(factory)
            def counting_factory(*args, **kwargs):
                udf = factory(*args, **kwargs)
                if not self.enabled:
                    return udf
                inner = udf.func

                def counted(s: pd.Series) -> pd.Series:
                    acc.add(int(s.notna().sum()))
                    return inner(s)

                return pandas_udf(counted, udf.returnType)

            return counting_factory

        self._replace(modules, owner, attr, make)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()


def dataframe_functions(module) -> list[str]:
    """Public functions defined in ``module`` that return a DataFrame —
    driver-side plan builders, never functions shipped to Python workers."""
    out = []
    for attr, obj in vars(module).items():
        if attr.startswith("_") or not inspect.isfunction(obj):
            continue
        if obj.__module__ != module.__name__:
            continue
        ret = inspect.signature(obj).return_annotation
        if "DataFrame" in str(ret):
            out.append(attr)
    return sorted(out)


# -- interval arithmetic ------------------------------------------------------


def merged(intervals, lo: float | None = None, hi: float | None = None) -> list:
    """``intervals`` (pairs) clipped to [lo, hi] and merged into disjoint,
    sorted intervals."""
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        a = a if lo is None else max(a, lo)
        b = b if hi is None else min(b, hi)
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (pairs), clipped to [lo, hi]."""
    return sum(b - a for a, b in merged(intervals, lo, hi))


def self_times(spans: list[dict], job_intervals: dict[int, list]) -> dict[int, dict]:
    """Per span: ``self_s`` = duration minus the union of its children's
    intervals; ``spark_s`` = the part of that self time its own jobs ran;
    ``layer_s`` = self_s - spark_s (the layer's own driver-side work)."""
    children: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        t0, t1 = s["t0"], s["t1"]
        kids = merged(children.get(s["id"], []), t0, t1)
        jobs = job_intervals.get(s["id"], [])
        self_s = max(0.0, (t1 - t0) - sum(b - a for a, b in kids))
        # own jobs that overlap a child (an asynchronous job outliving the
        # call that started it) are already inside the child's duration
        in_kids = sum(union_length(jobs, a, b) for a, b in kids)
        spark_s = min(self_s, max(0.0, union_length(jobs, t0, t1) - in_kids))
        out[s["id"]] = {"dur_s": t1 - t0, "self_s": self_s, "spark_s": spark_s,
                        "layer_s": self_s - spark_s}
    return out


# -- event log ------------------------------------------------------------------


def _plan_counts(info: dict) -> tuple[int, int, int]:
    """(Exchanges, file scans, scans of cached relations) in a plan tree."""
    exchanges = scans = cache_scans = 0
    todo = [info]
    while todo:
        n = todo.pop()
        name = n.get("nodeName", "")
        if name.endswith("Exchange"):
            exchanges += 1
        elif name.startswith("Scan"):
            scans += 1
        elif name == "InMemoryTableScan":
            cache_scans += 1
        todo.extend(n.get("children", []))
    return exchanges, scans, cache_scans


def parse_event_log(lines) -> dict:
    """Event-log lines → per-span Spark totals and job intervals.

    Returns {"spans": {span_id: {field: value}}, "jobs": {span_id:
    [(start, end)]}, "free_jobs": [start of each job with no span]}. A
    job belongs to the span named by its job group; a task belongs to the
    first job that listed its stage; an SQL execution's final plan belongs
    to the span of its jobs."""
    job_span: dict[int, int | None] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    exec_plan: dict[int, dict] = {}
    exec_span: dict[int, int] = {}
    totals: dict[int, dict] = defaultdict(lambda: dict.fromkeys(SPARK_FIELDS, 0))
    jobs: dict[int, list] = defaultdict(list)
    free: list[float] = []

    def span_of_stage(sid):
        jid = stage_job.get(sid)
        return None if jid is None else job_span.get(jid)

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            sid = int(group[len(GROUP_PREFIX):]) if group.startswith(GROUP_PREFIX) else None
            job_span[jid] = sid
            job_start[jid] = ev.get("Submission Time", 0) / 1000.0
            for st in ev.get("Stage IDs", []):
                stage_job.setdefault(st, jid)
            if sid is None:
                free.append(job_start[jid])
                continue
            totals[sid]["jobs"] += 1
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_span.setdefault(int(eid), sid)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            sid = job_span.get(jid)
            if sid is not None and jid in job_start:
                jobs[sid].append((job_start[jid], ev.get("Completion Time", 0) / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            sid = span_of_stage(ev["Stage Info"]["Stage ID"])
            if sid is not None:
                totals[sid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = span_of_stage(ev.get("Stage ID"))
            if sid is None:
                continue
            t = totals[sid]
            m = ev.get("Task Metrics") or {}
            t["tasks"] += 1
            t["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") in PY_BYTES_METRICS:
                    t["python_bytes"] += int(acc.get("Update") or 0)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            exec_plan[ev["executionId"]] = ev["sparkPlanInfo"]

    for eid, sid in exec_span.items():
        if eid in exec_plan:
            counts = _plan_counts(exec_plan[eid])
            for field, v in zip(("exchanges", "scans", "cache_scans"), counts):
                totals[sid][field] += v
    return {"spans": dict(totals), "jobs": dict(jobs), "free_jobs": free}


def subtree(spans: list[dict], root: int) -> list[int]:
    """Ids of ``root`` and all its descendants (spans are recorded in
    start order, so a child always follows its parent)."""
    inside = {root}
    for s in spans[root + 1:]:
        if s["parent"] in inside:
            inside.add(s["id"])
    return sorted(inside)


def total_s(spans: list[dict], ids) -> float:
    """Summed duration of the spans ``ids``."""
    return sum(spans[i]["t1"] - spans[i]["t0"] for i in ids)


def sum_field(attr: dict, ids, field: str) -> float:
    return sum(attr["spans"].get(i, {}).get(field, 0) for i in ids)
