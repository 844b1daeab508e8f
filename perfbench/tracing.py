"""Spans recorded around calls into the program's layers, and the
Spark event-log counters attributed to each op.

Spans live in memory and are written out once, when the run ends. A
span has a name (the layer), start and end time, its parent span and
the id of the op it belongs to. A layer's self time is its span's
duration minus the part of that interval its child spans cover.

Spark's own counters come from the event log of the traced session.
Every job carries the job group the benchmark set when the job was
started (``<op>:<phase>``), which ties it to one op and one phase:
``build`` (inside the registry query call), ``load`` (inside a
``sources`` call) or ``exec`` (the full-evaluation action). Jobs
started on a thread the benchmark does not control (the HTTP façade's
job thread) carry no group and are attributed to the op whose interval
contains their submission time.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    sid: int


class Tracer:
    """In-memory span recorder. With ``enabled`` false every call is a
    no-op, so untraced runs pay nothing but the call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op: str | None = None
        self.op_sid: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.op_sid
        with self._lock:
            sid = len(self.spans)
            sp = Span(name, time.time(), 0.0, parent, self.op, sid)
            self.spans.append(sp)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            sp.end = time.time()

    @contextmanager
    def op_span(self, op: str):
        """Root span of one op; spans opened on any thread while it is
        open belong to it."""
        self.op = op
        with self.span("op"):
            if self.enabled:
                self.op_sid = self._local.stack[-1]
            try:
                yield
            finally:
                self.op_sid = None
        self.op = None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([sp.__dict__ for sp in self.spans], f)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span], ops: set[str]) -> dict[str, float]:
    """Total self time per span name over the spans of ``ops``."""
    children: dict[int, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append(sp)
    out: dict[str, float] = defaultdict(float)
    for sp in spans:
        if sp.op not in ops:
            continue
        covered = _union([
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in children[sp.sid] if c.end > sp.start and c.start < sp.end
        ])
        out[sp.name] += (sp.end - sp.start) - covered
    return dict(out)


# ----------------------------------------------------------- event log

#: Task-end SQL accumulables of Spark's Python runners (timing in ms).
PY_METRICS = {
    "time to run Python workers": "py_total_ms",
    "time to start Python workers": "py_boot_ms",
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_received",
}


def read_event_logs(log_dir: str) -> list[dict]:
    """Every event of every application logged under ``log_dir``
    (rolling ``eventlog_v2_*`` directories or single files)."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
                   key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])))
    files += [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
              and not os.path.basename(p).startswith("appstatus")]
    events = []
    for path in files:
        with open(path) as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except ValueError:
                    continue  # a truncated last line of an aborted log
    return events


def attribute(events: list[dict], op_windows: dict[str, tuple[float, float]]) -> dict:
    """Per-op Spark counters. ``op_windows`` maps op id to its wall
    interval (epoch seconds), used for jobs without a group.

    Returns {op: {"jobs": {phase: n}, "stages", "tasks", counters...,
    "stage_intervals": [(s, e)]}}.
    """
    stage_job: dict[int, str] = {}
    per_op: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    phases: dict[str, dict] = defaultdict(lambda: defaultdict(int))
    ivls: dict[str, list] = defaultdict(list)

    def op_of(group: str | None, submit: float) -> tuple[str | None, str]:
        if group:
            op, _, phase = group.partition(":")
            return (op if op in op_windows else None), phase or "exec"
        for op, (s, e) in op_windows.items():
            if s <= submit <= e:
                return op, "job"
        return None, ""

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            op, phase = op_of(props.get("spark.jobGroup.id"), ev["Submission Time"] / 1e3)
            if op is None:
                continue
            phases[op][phase] += 1
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = op
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            op = stage_job.get(info["Stage ID"])
            if op is None or "Submission Time" not in info:
                continue
            per_op[op]["stages"] += 1
            s, e = info["Submission Time"] / 1e3, info.get("Completion Time", 0) / 1e3
            if e >= s:
                ivls[op].append((s, e))
        elif kind == "SparkListenerTaskEnd":
            op = stage_job.get(ev.get("Stage ID"))
            if op is None:
                continue
            st = per_op[op]
            st["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            inp = m.get("Input Metrics") or {}
            st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["input_bytes"] += inp.get("Bytes Read", 0)
            st["input_records"] += inp.get("Records Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = PY_METRICS.get(acc.get("Name"))
                if key:
                    try:
                        st[key] += float(acc.get("Update") or 0)
                    except ValueError:
                        pass
    out = {}
    for op in op_windows:
        d = dict(per_op.get(op, {}))
        d["jobs"] = dict(phases.get(op, {}))
        d["stage_intervals"] = ivls.get(op, [])
        out[op] = d
    return out


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by ``intervals``."""
    return _union([(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi])
