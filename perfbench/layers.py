"""Per-layer metrics of a traced run, from its spans and Spark's event log.

Every op rolls up to the layer (module) whose public function it calls.
Times and counts are per pass: summed over the ops of a timed pass, then
averaged over the run's passes. Layers with no op in the workload report
zeros, so every traced run prints the same metric names.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import GroupStats, idle_seconds
from workloads import LAYERS

LAYER_METRICS = {
    "build_s": "s",
    "build_jobs": "count",
    "run_s": "s",
    "jobs": "count",
    "tasks": "count",
    "idle_s": "s",
    "cpu_s": "s",
    "gc_s": "s",
    "python_s": "s",
    "python_mb": "MB",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
}
SETUP_METRICS = ("session.start_s", "setup.stage_s", "setup.warmup_s")
IO_METRICS = {
    "io.write_snapshot_s": "s",
    "io.read_snapshot_s": "s",
    "io.bytes_written": "B",
    "io.files_written": "count",
    "summary.dashboard_s": "s",
    "summary.performance_s": "s",
}
INGEST_METRICS = {
    "commit_p50_s": "s",
    "commit_tail_s": "s",
    "read_p50_s": "s",
    "read_tail_s": "s",
    "write_amp": "B/B",
    "space_amp": "B/B",
    "error_rate": "fraction",
}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in print order."""
    out = {name: "s" for name in SETUP_METRICS}
    for layer in LAYERS:
        out.update({f"{layer}.{m}": u for m, u in LAYER_METRICS.items()})
    out.update(IO_METRICS)
    out.update(INGEST_METRICS)
    out["trace.pass_s"] = "s"
    out["peak_rss_mb"] = "MB"
    return out


def op_jobs(run, stats: dict[str, GroupStats]) -> dict[str, list[int]]:
    """Spark jobs of each op in each timed pass (build + run)."""
    out: dict[str, list[int]] = {}
    for op in run.op_spans():
        p = op.attrs["p"]
        n = sum(stats.get(f"{p}|{op.name}|{phase}", GroupStats()).jobs for phase in ("build", "run"))
        out.setdefault(op.name, []).append(n)
    return out


def per_layer(run, stats: dict[str, GroupStats]) -> dict[str, dict]:
    spans = run.tr.spans
    parent = {s.id: s.parent for s in spans}
    ops = {s.id: s for s in run.op_spans()}

    def op_of(span):
        sid = span.id
        while sid is not None and sid not in ops:
            sid = parent[sid]
        return ops.get(sid)

    acc = defaultdict(float)
    for s in spans:
        op = op_of(s)
        if op is None or s is op:
            continue
        if s.name in ("build", "run"):
            acc[f"{op.layer}.{s.name}_s"] += s.seconds
        elif s.attrs.get("call") in ("read_snapshot", "write_snapshot"):
            acc[f"io.{s.attrs['call']}_s"] += s.seconds
        elif s.attrs.get("call") in ("dashboard", "performance"):
            acc[f"summary.{s.attrs['call']}_s"] += s.seconds
    for op in ops.values():
        p, L = op.attrs["p"], op.layer
        build = stats.get(f"{p}|{op.name}|build", GroupStats())
        act = stats.get(f"{p}|{op.name}|run", GroupStats())
        acc[f"{L}.build_jobs"] += build.jobs
        acc[f"{L}.idle_s"] += idle_seconds(op.start, op.end, build.task_spans + act.task_spans)
        for g in (build, act):
            for m in ("jobs", "tasks", "cpu_s", "gc_s", "python_s", "python_mb", "shuffle_mb", "spill_mb"):
                acc[f"{L}.{m}"] += getattr(g, m)
    acc["io.bytes_written"] = run.io["bytes_written"]
    acc["io.files_written"] = run.io["files_written"]

    ingest = run.ingest_metrics()
    out = {}
    for name, unit in metric_units().items():
        if name in run.timing:
            value = run.timing[name]
        elif name in INGEST_METRICS:
            value = ingest[name]["value"]
        elif name == "peak_rss_mb":
            value = run.rss_mb
        elif name == "trace.pass_s":
            value = statistics.median(s.seconds for s in run.tr.find("pass", kind="pass"))
        else:
            value = acc[name] / run.passes
        out[name] = {"value": value, "unit": unit}
    return out
