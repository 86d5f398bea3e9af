"""Spans, counters and Spark accounting for the traced run.

Every span is recorded by a wrapper the benchmark installs around a
call into one of the engine's layers; nothing inside the engine is
changed. A span has a name, start, end, parent span and request id.
Spans of one request share the request id; a span opened on another
thread (the HTTP handler serving a client's request) joins the
client's tree through the parent id the client sends in a header.
Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict

PARENT_HEADER = "X-Bench-Parent"


class Tracer:
    """``ids``: a span-id counter shared by the tracers of one process,
    so spans of several tracers can be written out together."""

    def __init__(self, ids=None):
        self.enabled = False
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._ids = ids if ids is not None else itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()

    # -- span context -------------------------------------------------------
    def current(self) -> dict | None:
        stack = getattr(self._tls, "stack", None)
        return stack[-1] if stack else None

    def attach(self, rid: str, parent: int | None):
        """Make the next span on this thread a child of ``parent`` in
        request ``rid`` (the handler-thread half of a client request)."""
        self._tls.stack = [{"id": parent, "rid": rid, "name": "<remote>"}]

    def detach(self) -> None:
        self._tls.stack = []

    def span(self, name: str, rid: str | None = None, **attrs):
        return _Span(self, name, rid, attrs)

    def count(self, key: str, n: float = 1.0) -> None:
        with self._lock:
            self.counters[key] += n

    def add_attr(self, key: str, n: float) -> None:
        """Add ``n`` to attribute ``key`` of the innermost open span."""
        cur = self.current()
        if cur is not None and "attrs" in cur:
            cur["attrs"][key] = cur["attrs"].get(key, 0) + n

    def wrap(self, name: str, fn, on_result=None):
        """``fn`` wrapped in a span (when tracing is on)."""

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not self.enabled or self.current() is None:
                return fn(*a, **kw)
            with self.span(name) as sp:
                out = fn(*a, **kw)
                if on_result is not None:
                    on_result(sp, out, a, kw)
                return out

        return wrapper


class _Span:
    def __init__(self, tracer: Tracer, name: str, rid: str | None, attrs: dict):
        self.t, self.name, self.rid, self.attrs = tracer, name, rid, attrs

    def __enter__(self):
        t = self.t
        stack = getattr(t._tls, "stack", None)
        if stack is None:
            stack = t._tls.stack = []
        parent = stack[-1] if stack else None
        self.rec = {
            "id": next(t._ids),
            "parent": parent["id"] if parent else None,
            "rid": self.rid or (parent["rid"] if parent else None),
            "name": self.name,
            "thread": threading.get_ident(),
            "attrs": dict(self.attrs),
            "start": time.perf_counter(),
        }
        stack.append(self.rec)
        return self.rec

    def __exit__(self, et, ev, tb):
        self.rec["end"] = time.perf_counter()
        if et is not None:
            self.rec["attrs"]["error"] = et.__name__
        self.t._tls.stack.pop()
        with self.t._lock:
            self.t.spans.append(self.rec)
        return False


# -- analysis ------------------------------------------------------------------
def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the union of its children's
    intervals. A span is clipped to its parent's interval first: a
    handler that finishes writing after its client already has the
    reply adds nothing to the request's latency."""
    by_id = {s["id"]: s for s in spans}
    clipped: dict[int, tuple[float, float]] = {}

    def interval(s) -> tuple[float, float]:
        hit = clipped.get(s["id"])
        if hit is None:
            a, b = s["start"], s["end"]
            parent = by_id.get(s["parent"])
            if parent is not None:
                pa, pb = interval(parent)
                a, b = max(a, pa), min(b, pb)
            hit = clipped[s["id"]] = (a, max(a, b))
        return hit

    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] in by_id:
            kids[s["parent"]].append(interval(s))
    out = {}
    for s in spans:
        a0, b0 = interval(s)
        covered, hi = 0.0, a0
        for a, b in sorted(kids.get(s["id"], [])):
            a = max(a, hi)
            if b > a:
                covered += b - a
                hi = b
        out[s["id"]] = (b0 - a0) - covered
    return out


def trees(spans: list[dict]) -> dict[str, list[dict]]:
    by_rid: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_rid[s["rid"]].append(s)
    return by_rid


def check_trees(spans: list[dict], tol_s: float = 1e-6) -> list[str]:
    """Problems found: a request without exactly one root, a span whose
    parent is missing from its request, or self times that do not sum
    to the root's wall."""
    problems = []
    st = self_times(spans)
    for rid, group in trees(spans).items():
        ids = {s["id"] for s in group}
        roots = [s for s in group if s["parent"] is None]
        if len(roots) != 1:
            problems.append(f"{rid}: {len(roots)} roots")
            continue
        orphans = [s["name"] for s in group if s["parent"] is not None and s["parent"] not in ids]
        if orphans:
            problems.append(f"{rid}: orphan spans {orphans}")
        wall = roots[0]["end"] - roots[0]["start"]
        total = sum(st[s["id"]] for s in group)
        if abs(total - wall) > tol_s + 1e-9 * len(group):
            problems.append(f"{rid}: self times sum {total:.6f} != wall {wall:.6f}")
    return problems


# -- Spark accounting ------------------------------------------------------------
class JobGroups:
    """One Spark job group per request or registry entry, read back from
    the status tracker as job, stage and task counts."""

    def __init__(self, sc):
        self.sc = sc
        self.st = sc.statusTracker()

    def set(self, group: str, desc: str) -> None:
        self.sc.setJobGroup(group, desc)

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, group: str) -> tuple[int, int, int]:
        jobs = list(self.st.getJobIdsForGroup(group))
        stages = tasks = 0
        for j in jobs:
            info = self.st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = self.st.getStageInfo(s)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        return len(jobs), stages, tasks


def count_py4j_calls(sc, tracer: Tracer):
    """Count py4j round trips on the driver's gateway client; returns an
    undo callable."""
    client = sc._gateway._gateway_client
    orig = client.send_command

    def send_command(*a, **kw):
        if tracer.enabled:
            tracer.count("py4j_calls")
            tracer.add_attr("py4j", 1)
        return orig(*a, **kw)

    client.send_command = send_command
    return lambda: setattr(client, "send_command", orig)


def event_log_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group totals from the Spark event log: executor run time,
    time tasks waited for a slot (launch minus stage submission),
    shuffle bytes, spill bytes and failed tasks."""
    files = sorted(
        os.path.join(d, f) for d, _s, fs in os.walk(log_dir) for f in fs if f.startswith("events_")
    )
    stage_group: dict[int, str] = {}
    submitted: dict[int, float] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for s in ev.get("Stage IDs", []):
                            stage_group[s] = group
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if info.get("Submission Time") is not None:
                        submitted[info["Stage ID"]] = info["Submission Time"]
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    g = out[group]
                    ti = ev.get("Task Info") or {}
                    tm = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["failed_tasks"] += 1 if ti.get("Failed") else 0
                    g["executor_run_ms"] += tm.get("Executor Run Time", 0)
                    sub = submitted.get(ev["Stage ID"])
                    if sub is not None and ti.get("Launch Time") is not None:
                        g["scheduler_delay_ms"] += max(0, ti["Launch Time"] - sub)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    return out


def job_floor_ms(spark, n: int = 9) -> float:
    """Median wall of a one-task Spark job: the host's empty-job floor."""
    walls = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(0, 1, 1, 1).count()
        walls.append(time.perf_counter() - t0)
    walls.sort()
    return walls[len(walls) // 2] * 1000.0
