"""Spans recorded around layer calls, Spark's event log, and process RSS.

A span is one call into a layer, timed from the benchmark's side: name,
layer, start, end, parent and run id. In a traced run each op also sets
a Spark job group, so the event log attributes every job, task and
executor metric to the op (and to its build or run phase). The event log
is Spark's uncompressed JSON-lines listener log; it is read here with the
standard library only.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float  # epoch seconds, comparable with the event log's ms stamps
    end: float = 0.0
    seconds: float = 0.0  # perf_counter duration
    group: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; sets Spark job groups when ``traced``."""

    def __init__(self, run_id: str, traced: bool):
        self.run_id = run_id
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.spark_context = None

    @contextlib.contextmanager
    def span(self, name: str, layer: str, group: str | None = None, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name, layer, time.time(), group=group, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if group and self.traced and self.spark_context is not None:
            self.spark_context.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.seconds = time.perf_counter() - t0
            s.end = s.start + s.seconds
            self._stack.pop()
            if group and self.traced and self.spark_context is not None:
                self.spark_context.setJobGroup(self._group_above(), "")

    def _group_above(self) -> str:
        for s in reversed(self._stack):
            if s.group:
                return s.group
        return ""

    def find(self, name: str | None = None, **attrs) -> list[Span]:
        return [
            s
            for s in self.spans
            if (name is None or s.name == name)
            and all(s.attrs.get(k) == v for k, v in attrs.items())
        ]

    def self_seconds(self, roots: list[Span]) -> dict[str, float]:
        """Each layer's self time (span time not covered by child spans)
        within the subtrees of ``roots``."""
        inside = {r.id for r in roots}
        for s in self.spans:  # parents precede children
            if s.parent in inside:
                inside.add(s.id)
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.seconds
        out = defaultdict(float)
        for s in self.spans:
            if s.id in inside:
                out[s.layer] += max(0.0, s.seconds - child[s.id])
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({"run": self.run_id, **asdict(s)}) + "\n")


# --- Spark event log -------------------------------------------------------

PYTHON_TIME = "time to run Python workers"  # ms, SQL metric per task
PYTHON_BYTES = "data sent to Python workers"  # bytes, SQL metric per task


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    python_s: float = 0.0
    python_mb: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    task_spans: list = field(default_factory=list)  # (launch_s, finish_s) epoch


def _event_files(log_dir: str) -> list[str]:
    """Event-log files in write order (Spark 4 rolls them by default)."""
    files = [
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    ]

    def order(path: str):
        base = os.path.basename(path)
        parts = base.split("_")
        idx = int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0
        return (os.path.dirname(path), idx)

    return sorted(files, key=order)


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group: jobs, tasks and executor metrics from the log."""
    stage_group: dict[int, str] = {}
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    stats[group].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    g = stats[stage_group.get(ev["Stage ID"], "")]
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    g.tasks += 1
                    g.task_spans.append((info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))
                    g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    g.gc_s += m.get("JVM GC Time", 0) / 1e3
                    g.shuffle_mb += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ) / 1e6
                    g.spill_mb += m.get("Disk Bytes Spilled", 0) / 1e6
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") == PYTHON_TIME:
                            g.python_s += int(acc.get("Update", 0)) / 1e3
                        elif acc.get("Name") == PYTHON_BYTES:
                            g.python_mb += int(acc.get("Update", 0)) / 1e6
    return dict(stats)


def idle_seconds(start: float, end: float, task_spans: list) -> float:
    """Part of [start, end] during which none of the tasks ran."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted((max(lo, start), min(hi, end)) for lo, hi in task_spans):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return max(0.0, (end - start) - covered)


# --- resident memory ---------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM over ``root_pid`` (the JVM) and all its descendants
    (the Python workers)."""
    kids, total, todo = _children(), 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024
