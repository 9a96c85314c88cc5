"""Spans, Spark job groups and the event-log reducer for traced runs.

A traced run keeps every timed call as a span ``{name, start, end, parent,
request_id}`` in memory. While a span is open, the calling thread's Spark
job group is ``<workload>:<name>#<span id>``, so each job in Spark's event
log names the span that started it. ``reduce_log`` turns an uncompressed
event log into per-span job/stage/task totals, and ``rollup`` adds each
span's subtree together.

Nothing here imports the program: ``patch`` wraps the program's public
functions at run time and ``Tracer.span`` is used around the benchmark's own
calls.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"

# Per-task counters taken from SparkListenerTaskEnd; names are this file's.
TASK_COUNTERS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "input_records",
    "output_bytes", "output_records", "python_bytes",
)
# SQL metrics that count bytes crossing the JVM/Python boundary.
PYTHON_ACCUMULABLES = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main = threading.main_thread().ident
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, request_id=None):
        stack = self._stack()
        # A pool thread's first span hangs under the main thread's open span.
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"name": name, "start": time.perf_counter(), "end": None,
                               "parent": parent, "request_id": request_id})
        previous = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, f"{self.workload}:{name}#{sid}")
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.perf_counter()
            self.sc.setLocalProperty(GROUP_KEY, previous)

    def wrap(self, name: str, fn, request_arg: int | None = None):
        def traced(*args, **kwargs):
            rid = args[request_arg] if request_arg is not None and len(args) > request_arg else None
            with self.span(name, rid):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def patch(tracer: Tracer, targets: list[tuple[object, str, str, int | None]]):
    """Wrap ``getattr(owner, attr)`` as span ``name``; return an undo list.

    ``targets`` rows are ``(owner, attr, span name, request arg index)``;
    the request arg (e.g. the table name) becomes the span's request id.
    """
    undo = []
    for owner, attr, name, rid in targets:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = orig.__func__ if isinstance(orig, staticmethod) else orig
        wrapped = tracer.wrap(name, fn, rid)
        setattr(owner, attr, staticmethod(wrapped) if isinstance(orig, staticmethod) else wrapped)
        undo.append((owner, attr, orig))
    return undo


def unpatch(undo) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


def _span_of(group: str | None) -> int | None:
    if not group or "#" not in group:
        return None
    try:
        return int(group.rsplit("#", 1)[1])
    except ValueError:
        return None


def reduce_log(lines) -> dict[int, dict]:
    """Event-log lines -> ``{span id: totals}``.

    Totals: ``jobs``, ``write_jobs`` (jobs with output bytes), ``stages``,
    ``tasks`` and every name in ``TASK_COUNTERS``. Jobs outside any span
    are dropped.
    """
    job_span: dict[int, int] = {}
    stage_span: dict[int, int] = {}
    job_stages: dict[int, list[int]] = {}
    stage_out: dict[int, float] = defaultdict(float)
    out: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            sid = _span_of((ev.get("Properties") or {}).get(GROUP_KEY))
            if sid is not None:
                job_span[ev["Job ID"]] = sid
                job_stages[ev["Job ID"]] = ev.get("Stage IDs", [])
                out[sid]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = _span_of((ev.get("Properties") or {}).get(GROUP_KEY))
            if sid is not None:
                stage_span[ev["Stage Info"]["Stage ID"]] = sid
                out[sid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev.get("Stage ID"))
            if sid is None:
                continue
            m = ev.get("Task Metrics") or {}
            acc = {a.get("Name"): a.get("Update") for a in
                   (ev.get("Task Info") or {}).get("Accumulables", [])}
            sr = m.get("Shuffle Read Metrics") or {}
            t = out[sid]
            t["tasks"] += 1
            t["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            t["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            written = (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            t["output_bytes"] += written
            t["output_records"] += (m.get("Output Metrics") or {}).get("Records Written", 0)
            t["python_bytes"] += sum(float(acc.get(k) or 0) for k in PYTHON_ACCUMULABLES)
            stage_out[ev["Stage ID"]] += written
    for job, sid in job_span.items():
        if any(stage_out.get(s, 0) > 0 for s in job_stages[job]):
            out[sid]["write_jobs"] += 1
    return {sid: dict(t) for sid, t in out.items()}


def rollup(spans: list[dict], totals: dict[int, dict]) -> list[dict]:
    """Per span: wall ``s``, ``self_s`` (wall minus child walls, >= 0) and
    event-log totals summed over the span's whole subtree."""
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children[s["parent"]].append(i)
    memo: dict[int, dict] = {}

    def subtree(i: int) -> dict:
        if i not in memo:
            acc = defaultdict(float, totals.get(i, {}))
            for c in children[i]:
                for k, v in subtree(c).items():
                    acc[k] += v
            memo[i] = dict(acc)
        return memo[i]

    rows = []
    for i, s in enumerate(spans):
        wall = (s["end"] or s["start"]) - s["start"]
        child = sum((spans[c]["end"] or spans[c]["start"]) - spans[c]["start"] for c in children[i])
        rows.append({"id": i, "name": s["name"], "request_id": s["request_id"],
                     "parent": s["parent"], "s": wall, "self_s": max(0.0, wall - child),
                     **subtree(i)})
    return rows
