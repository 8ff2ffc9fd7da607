"""Span recording, layer wrappers, Spark event-log parsing and the
percentile rules the benchmark reports with.

Spans are kept in memory and written out once the run ends. A span is
``name, start, end, parent`` plus the Spark job ids Spark assigned while
it was open; times are epoch seconds so they line up with the event
log's millisecond stamps. Layer spans are opened by wrappers installed
around the program's public entry points for the traced run only; the
program itself is not changed.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import math
import threading
import time
from contextlib import contextmanager


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest percentile (0-100) with at least ``beyond`` of ``n``
    samples above it, or None when there are no more than ``beyond``."""
    if n <= beyond:
        return None
    return 100.0 * (n - beyond) / n


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the highest percentile with at least
    ten samples above it. Below twenty samples that percentile would sit
    under the median, so the maximum (percentile 100) is reported."""
    n = len(values)
    pct = tail_percentile(n)
    if pct is None or pct < 50.0:
        return max(values), 100.0, n
    return percentile(values, pct), pct, n


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


class Tracer:
    """Records nested spans; a disabled tracer records nothing.

    Spans opened on a thread with no open span (Spark's callback thread
    running a ``foreachBatch`` body) take the innermost open span of the
    main thread as their parent."""

    def __init__(self, enabled: bool, spark_context=None) -> None:
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.counts: list[tuple[float, str, float]] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, job_group: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        rec = {"id": next(self._ids), "name": name, "parent": parent,
               "start": time.time(), "end": None, "jobs": [], **attrs}
        group = None
        if job_group and self.sc is not None:
            group = f"span-{rec['id']}"
            self.sc.setJobGroup(group, name)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            if group is not None:
                rec["jobs"] = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts.append((time.time(), name, n))

    def counted(self, name: str, lo: float, hi: float) -> float:
        return sum(n for t, k, n in self.counts if k == name and lo <= t <= hi)

    def wrap(self, target: str, attr: str, name: str, after=None) -> None:
        """Replace ``target.attr`` (a module path, optionally ending in a
        class name) with a wrapper that records a span named ``name``
        around every call and then, outside the span, calls
        ``after(args, kwargs)``; ``unwrap_all`` restores the original."""
        if not self.enabled:
            return
        owner = _resolve(target)
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                result = orig(*args, **kwargs)
            if after is not None:
                after(args, kwargs)
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def total(self, name: str, lo: float, hi: float) -> tuple[float, int]:
        """(summed duration, call count) of spans called ``name`` that
        started inside ``[lo, hi]``; nested same-name calls count once."""
        by_id = {s["id"]: s for s in self.spans}
        tot, n = 0.0, 0
        for s in self.spans:
            if s["name"] != name or not lo <= s["start"] <= hi:
                continue
            p, nested = s["parent"], False
            while p is not None:
                if by_id[p]["name"] == name:
                    nested = True
                    break
                p = by_id[p]["parent"]
            if not nested:
                tot += s["end"] - s["start"]
                n += 1
        return tot, n


def _resolve(target: str):
    parts = target.split(".")
    for i in range(len(parts), 0, -1):
        try:
            obj = importlib.import_module(".".join(parts[:i]))
        except ModuleNotFoundError:
            continue
        for p in parts[i:]:
            obj = getattr(obj, p)
        return obj
    raise ModuleNotFoundError(target)


# ---------------------------------------------------------------- event log


def parse_event_log(lines) -> dict:
    """Jobs, stages and per-stage task totals from a Spark event log
    (one JSON event per line). Times are epoch seconds."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    executions: list[dict] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "submit": ev["Submission Time"] / 1000.0,
                "end": None,
                "ok": None,
                "group": props.get("spark.jobGroup.id"),
                "stages": list(ev.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
                job["ok"] = (ev.get("Job Result") or {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], _new_stage())
            st["tasks"] = info.get("Number of Tasks", 0)
            st["completed"] = True
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], _new_stage())
            _add_task(st, ev)
        elif kind and kind.endswith("SparkListenerSQLExecutionStart"):
            scans: list[str] = []
            exchanges = _walk_plan(ev.get("sparkPlanInfo") or {}, scans)
            executions.append({"time": ev["time"] / 1000.0, "scans": scans, "exchanges": exchanges})
    return {"jobs": jobs, "stages": stages, "executions": executions}


def _walk_plan(node: dict, scans: list[str]) -> int:
    """Collect scanned file locations; return the exchange count."""
    name = node.get("nodeName", "")
    n = int("Exchange" in name and "Reused" not in name)
    if name.startswith("Scan"):
        scans.append((node.get("metadata") or {}).get("Location", ""))
    for child in node.get("children") or []:
        n += _walk_plan(child, scans)
    return n


def _new_stage() -> dict:
    return {
        "tasks": 0, "completed": False, "task_ends": 0, "failed_tasks": 0,
        "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "sched_delay_s": 0.0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
        "input_bytes": 0,
    }


def _add_task(st: dict, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    st["task_ends"] += 1
    if info.get("Failed") or info.get("Killed"):
        st["failed_tasks"] += 1
    run_ms = m.get("Executor Run Time", 0)
    st["run_s"] += run_ms / 1000.0
    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    overhead_ms = (
        run_ms
        + m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    st["sched_delay_s"] += max(0, wall_ms - overhead_ms) / 1000.0
    sr = m.get("Shuffle Read Metrics") or {}
    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)


def jobs_in(log: dict, lo: float, hi: float) -> list[dict]:
    """Jobs submitted inside ``[lo, hi]``."""
    return [j for j in log["jobs"].values() if lo <= j["submit"] <= hi]


def spark_metrics(log: dict, lo: float, hi: float, cores: int) -> dict[str, float]:
    """The ``spark.*`` metrics over jobs submitted inside ``[lo, hi]``."""
    jobs = jobs_in(log, lo, hi)
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [log["stages"][s] for s in stage_ids if s in log["stages"]]
    ran = [s for s in stages if s["task_ends"]]
    wall = max(hi - lo, 1e-9)

    def tot(key):
        return sum(s[key] for s in ran)

    busy = union_length(
        [(j["submit"], j["end"] if j["end"] is not None else hi) for j in jobs], lo, hi
    )
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(ran),
        "spark.tasks": sum(s["task_ends"] for s in ran),
        "spark.task_run_s": tot("run_s"),
        "spark.task_cpu_s": tot("cpu_s"),
        "spark.jvm_gc_s": tot("gc_s"),
        "spark.scheduler_delay_s": tot("sched_delay_s"),
        "spark.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": tot("shuffle_read_bytes"),
        "spark.spill_bytes": tot("spill_bytes"),
        "spark.input_bytes": tot("input_bytes"),
        "spark.failed_tasks": tot("failed_tasks"),
        "spark.core_busy_ratio": tot("run_s") / (wall * cores),
        "spark.driver_gap_s": wall - busy,
    }


def attribute_jobs(spans: list[dict], log: dict) -> None:
    """Give every span the ids of the jobs submitted while it was the
    innermost open span (job groups name only main-thread jobs; the
    streaming thread's jobs are placed by time)."""
    by_start = sorted(spans, key=lambda s: (s["start"], -s["end"]))
    for s in spans:
        s["self_jobs"] = []
    for j in log["jobs"].values():
        best = None
        for s in by_start:
            if s["start"] > j["submit"]:
                break
            if s["end"] >= j["submit"]:
                best = s
        if best is not None:
            best["self_jobs"].append(j["id"])


def span_report(spans: list[dict], log: dict | None) -> list[dict]:
    """The span tree as flat records with self time and job totals."""
    selfs = self_times(spans)
    out = []
    for s in sorted(spans, key=lambda s: s["start"]):
        rec = {k: s[k] for k in ("id", "name", "parent", "start", "end")}
        rec["wall_s"] = s["end"] - s["start"]
        rec["self_s"] = selfs[s["id"]]
        rec["group_jobs"] = s.get("jobs", [])
        if log is not None:
            rec["self_jobs"] = s.get("self_jobs", [])
            st_ids = {x for j in rec["self_jobs"] for x in log["jobs"][j]["stages"]}
            ran = [log["stages"][x] for x in st_ids if x in log["stages"]]
            rec["self_task_run_s"] = sum(x["run_s"] for x in ran)
            rec["self_shuffle_bytes"] = sum(x["shuffle_write_bytes"] for x in ran)
        out.append(rec)
    return out
