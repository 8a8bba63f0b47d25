"""Spans around calls into the engine's layers, and the Spark event-log fold.

The benchmark measures each layer from outside: ``Tracer.wrap`` replaces a
public function (or method) with a wrapper that opens a span, tags every
Spark job the call submits with the span's own job group, and closes the
span when the call returns.  After the run, ``fold_event_log`` reads Spark's
JSON event log and sums task metrics per job group, so each span gets its
jobs, tasks, shuffle, spill, GC and Python-worker counters.

Self time is a span's duration minus the time its child spans cover.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    idx: int
    name: str
    group: str
    parent: int | None
    start: float  # time.time(), comparable with event-log timestamps
    end: float = 0.0
    child_s: float = 0.0
    children: list[int] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s


class Tracer:
    """Span recorder.  Disabled, ``span`` only times; enabled, it also sets
    one Spark job group per span and ``wrap`` patches layer functions."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(idx, name, f"pb-{idx}", parent, time.time(), attrs=dict(attrs))
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        if self.enabled:
            self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].child_s += sp.wall_s
            if self.enabled:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(self.spans[parent].group, self.spans[parent].name)

    def wrap(self, owner: object, attr: str, name: str,
             on_return: Callable[[Span, tuple, dict, object], None] | None = None) -> None:
        """Route ``owner.attr`` through a span named ``name``.  ``on_return``
        may record attributes of the call on the span (outside its time)."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
            if on_return is not None:
                on_return(sp, args, kwargs, out)
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def subtree(self, sp: Span) -> list[Span]:
        """``sp`` and every span below it."""
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.spans[i] for i in s.children)
        return out


# --- event-log fold ---------------------------------------------------------

# SQL metric names (Spark 4.1) whose per-task updates are summed by name.
_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


@dataclass
class GroupCounters:
    jobs: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    records_read: int = 0
    bytes_written: int = 0
    records_written: int = 0
    python_worker_s: float = 0.0
    python_bytes_sent: int = 0
    python_bytes_returned: int = 0
    peak_execution_memory_bytes: int = 0
    # (start, end) wall-clock seconds of each job
    job_intervals: list = field(default_factory=list)

    def add(self, other: "GroupCounters") -> None:
        for k, v in vars(other).items():
            if k == "peak_execution_memory_bytes":
                self.peak_execution_memory_bytes = max(self.peak_execution_memory_bytes, v)
            elif k == "job_intervals":
                self.job_intervals.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


def _acc_value(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def find_event_log(log_dir: Path, app_id: str) -> Path:
    matches = [p for p in log_dir.iterdir() if p.name.startswith(app_id)]
    if len(matches) != 1:
        raise FileNotFoundError(f"event log for {app_id} in {log_dir}: {matches}")
    return matches[0]


def fold_event_log(path: Path) -> dict[str, GroupCounters]:
    """Job group -> counters, from one uncompressed, non-rolling event log.
    Jobs without a group are filed under ``""``."""
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    # Stages running an RDD-API Python function (foreachPartition, ...) carry
    # no SQL Python-worker metric; their task run time is Python-worker time.
    python_rdd_stages: set[int] = set()
    out: dict[str, GroupCounters] = defaultdict(GroupCounters)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_group[jid] = group
                job_start[jid] = ev["Submission Time"] / 1000.0
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
                out[group].jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if any(r.get("Name") == "PythonRDD" for r in info.get("RDD Info", [])):
                    python_rdd_stages.add(info["Stage ID"])
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_start:
                    out[job_group[jid]].job_intervals.append(
                        (job_start[jid], ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerTaskEnd":
                c = out[stage_group.get(ev["Stage ID"], "")]
                c.tasks += 1
                m = ev.get("Task Metrics") or {}
                c.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                if ev["Stage ID"] in python_rdd_stages:
                    c.python_worker_s += m.get("Executor Run Time", 0) / 1e3
                c.gc_s += m.get("JVM GC Time", 0) / 1e3
                c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                c.peak_execution_memory_bytes = max(
                    c.peak_execution_memory_bytes, m.get("Peak Execution Memory", 0)
                )
                sr = m.get("Shuffle Read Metrics") or {}
                c.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                c.records_read += (m.get("Input Metrics") or {}).get("Records Read", 0)
                om = m.get("Output Metrics") or {}
                c.bytes_written += om.get("Bytes Written", 0)
                c.records_written += om.get("Records Written", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name, upd = acc.get("Name"), _acc_value(acc.get("Update"))
                    if name == _PY_TIME:
                        c.python_worker_s += upd / 1e3  # timing metric, ms
                    elif name == _PY_SENT:
                        c.python_bytes_sent += int(upd)
                    elif name == _PY_RETURNED:
                        c.python_bytes_returned += int(upd)
    return dict(out)


def busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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
