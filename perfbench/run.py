#!/usr/bin/env python3
"""Repository benchmark: closed-loop workloads on one local Spark.

Run from the repository root:

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

``--workload`` is ``queries`` or ``ingest`` (the two in BENCHMARK.json),
or ``analytics`` / ``curation`` (the full op lists, for manual runs; see
``workloads.py`` and ``DESIGN.md``). The seed permutes the op order of
every pass and generates the ``ingest`` batches; the test-data tables
are generated in every run with a fixed seed. Passes repeat until
``--seconds`` have been measured (at least one pass).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it is a
``detail`` object with quartiles, sample counts, tail percentiles, the
ingest metrics and ``error_rate``. A traced run also writes its spans to
``.bench_build/perfbench/traces/``.

Everything the run writes (inputs, Spark local dirs, warehouse, event
log, TMPDIR) lives in one directory under ``.bench_build/perfbench/``
that is deleted at exit; only the oracle cache and the span files stay.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

PROCESS_START = time.time()
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
HERE = os.path.dirname(os.path.abspath(__file__))


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("queries", "ingest", "analytics", "curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01, help="scale factor of the query workloads' tables")
    ap.add_argument("--ingest-symbols", type=int, default=500)
    ap.add_argument("--ingest-batches", type=int, default=12)
    return ap.parse_args(argv)


def _environment(run_dir: str, traced: bool) -> None:
    """Confine every file Spark, the JVM and Python write to ``run_dir``."""
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    java = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    args = [
        f'--driver-java-options "{java}"',
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
    ]
    if traced:
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{os.path.join(run_dir, 'eventlog')}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    # spark-submit first runs a small launcher JVM; keep it out of /tmp too.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - make sure it is gone
            proc.kill()
            proc.wait()


# --- statistics ---------------------------------------------------------------


def quartiles(values):
    if len(values) < 2:
        return [values[0]] * 3 if values else [math.nan] * 3
    return statistics.quantiles(values, n=4)


def tail(values):
    """The highest percentile with at least 10 samples beyond it."""
    n = len(values)
    if n <= 10:
        return None, None
    return sorted(values)[n - 11], round(100 * (n - 10) / n, 1)


def summary_of(values, unit: str) -> dict:
    q = quartiles(values)
    t, pct = tail(values)
    return {"value": q[1], "unit": unit, "q1": q[0], "q3": q[2], "n": len(values),
            "tail": t, "tail_pct": pct}


# --- one run -------------------------------------------------------------------


class Run:
    def __init__(self, args, run_dir: str):
        from spans import Tracer

        self.args = args
        self.run_dir = run_dir
        self.tr = Tracer(os.path.basename(run_dir), traced=bool(args.trace))
        self.timing = {}
        self.failures: list[str] = []  # correctness-check failures
        self.io = {"bytes_written": 0, "files_written": 0}

    def execute(self) -> None:
        import datagen
        import workloads as W

        a, tr = self.args, self.tr
        t_stage = time.time()
        data = os.path.join(self.run_dir, "data")
        if a.workload in W.QUERY_WORKLOADS:
            datagen.write_tables(os.path.join(data, f"sf{a.sf}"), a.sf)
            datagen.write_tables(os.path.join(data, "sf0.001"), 0.001)
        stage_s = time.time() - t_stage

        with tr.span("session.get_spark", "session") as s_start:
            from finance_data_pipeline_spark.session import get_spark

            spark = get_spark(app_name=f"perfbench-{a.workload}")
            spark.sparkContext.setLogLevel("ERROR")
        tr.spark_context = spark.sparkContext
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        try:
            self._measure(spark, data, stage_s, s_start.seconds)
        finally:
            _stop_spark(spark)

    def _measure(self, spark, data: str, stage_s: float, start_s: float) -> None:
        import workloads as W
        from spans import peak_rss_mb

        a, tr = self.args, self.tr
        t = time.time()
        if a.workload == "ingest":
            inp = W.stage_ingest(spark, os.path.join(self.run_dir, "ingest"), a.seed,
                                 n_symbols=a.ingest_symbols, n_batches=a.ingest_batches)
            tiny = W.stage_ingest(spark, os.path.join(self.run_dir, "warm"), a.seed,
                                  n_symbols=5, history_days=30, n_batches=2)
        stage_s += time.time() - t

        t = time.time()
        with tr.span("setup.warmup", "setup"):
            if a.workload == "ingest":
                W.ingest_pass(spark, tr, tiny, os.path.join(self.run_dir, "warm", "store"), "warmup")
            else:
                ops = W.QUERY_WORKLOADS[a.workload]
                warm = W.query_pass(spark, tr, ops, sorted(ops), os.path.join(data, "sf0.001"), "warmup")
                for name, out in warm.items():
                    if isinstance(out, Exception):
                        print(f"perfbench: warm-up {name}: {out}", file=sys.stderr)
        warmup_s = time.time() - t
        setup_s = time.time() - PROCESS_START
        self.timing = {"session.start_s": start_s, "setup.stage_s": stage_s,
                       "setup.warmup_s": warmup_s, "setup_s": setup_s}

        first = None
        t0, p = time.perf_counter(), 0
        while p == 0 or time.perf_counter() - t0 < a.seconds:
            with tr.span("pass", "bench", kind="pass", p=p):
                if a.workload == "ingest":
                    out = os.path.join(self.run_dir, "ingest", f"store{p}")
                    for k, v in W.ingest_pass(spark, tr, inp, out, p).items():
                        self.io[k] += v
                else:
                    ops = W.QUERY_WORKLOADS[a.workload]
                    out = W.query_pass(spark, tr, ops, W.pass_order(ops, a.seed, p),
                                       os.path.join(data, f"sf{a.sf}"), p)
            if p == 0:
                first = out  # op outputs, or the ingest store, of pass 0
            p += 1
        self.passes = p
        self.rss_mb = peak_rss_mb(self.jvm_pid)

        # Correctness, outside the timed passes.
        if a.workload == "ingest":
            err = W.check_store(spark, inp, first)
            if err:
                self.failures.append(f"store: {err}")
            self.input_bytes = inp.input_bytes()
            self.all_input_bytes = self.input_bytes + os.path.getsize(inp.history)
            self.store_bytes = W.dir_bytes(first)[0]
        else:
            self._check_queries(first, os.path.join(data, f"sf{a.sf}"))

    def _check_queries(self, first: dict, sf_dir: str) -> None:
        from expected import Oracles, compare

        oracles = Oracles(sf_dir, os.path.join(BUILD, "expected"))
        try:
            for name, got in first.items():
                if isinstance(got, Exception):
                    continue  # already counted as an error
                errs = compare(got, oracles.result(name))
                if errs:
                    self.failures.append(f"{name}: {'; '.join(errs)}")
        finally:
            oracles.close()

    # --- results --------------------------------------------------------------

    def op_spans(self):
        return [s for s in self.tr.spans if s.attrs.get("kind") == "op" and isinstance(s.attrs.get("p"), int)]

    def all_failures(self) -> list[str]:
        """Ops that raised or failed a per-op check, then failed checks."""
        errors = [f"{s.name}: {s.attrs['error']}" for s in self.op_spans() if "error" in s.attrs]
        return errors + self.failures

    def counts(self) -> tuple[int, int]:
        return len(self.op_spans()), len(self.all_failures())

    def end_to_end(self) -> tuple[dict, dict]:
        tr, ingest = self.tr, self.args.workload == "ingest"
        passes = [s.seconds for s in tr.find("pass", kind="pass")]
        unit = "cycle" if ingest else "op"
        ops = [s.seconds for s in tr.spans if s.attrs.get("kind") == unit and isinstance(s.attrs.get("p"), int)]
        metrics = {
            "setup_s": {"value": self.timing["setup_s"], "unit": "s"},
            "pass_s": {"value": statistics.median(passes), "unit": "s"},
            "op_geomean_s": {"value": statistics.geometric_mean(ops), "unit": "s"},
        }
        op = summary_of(ops, "s")
        detail = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            **{k: dict(v) for k, v in metrics.items()},
            "pass_s": summary_of(passes, "s"),
            "op_p50_s": {"value": op["value"], "unit": "s", "q1": op["q1"], "q3": op["q3"], "n": op["n"]},
            "op_tail_s": {"value": op["tail"], "unit": "s", "pct": op["tail_pct"], "n": op["n"]},
            "peak_rss_mb": {"value": self.rss_mb, "unit": "MB"},
            "op_latency_s": self.op_latencies(),
        }
        detail.update(self.ingest_metrics())
        return metrics, detail

    def op_latencies(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for s in self.op_spans():
            out.setdefault(s.name, []).append(round(s.seconds, 4))
        return out

    def ingest_metrics(self) -> dict:
        """Commit/read latency and amplification; zeros off ``ingest``."""
        commits = [s.seconds for s in self.op_spans() if s.layer == "ingest" and s.name.startswith("commit")]
        reads = [s.seconds for s in self.op_spans() if s.layer == "summary" and s.name.startswith("read")]
        out = {}
        for name, vals in (("commit", commits), ("read", reads)):
            q = summary_of(vals, "s") if vals else {"value": 0.0, "tail": 0.0}
            out[f"{name}_p50_s"] = {"value": q["value"], "unit": "s", "n": len(vals)}
            out[f"{name}_tail_s"] = {"value": q["tail"] or 0.0, "unit": "s",
                                     "pct": q.get("tail_pct"), "n": len(vals)}
        if commits:
            out["write_amp"] = {"value": self.io["bytes_written"] / (self.input_bytes * self.passes), "unit": "B/B"}
            out["space_amp"] = {"value": self.store_bytes / self.all_input_bytes, "unit": "B/B"}
        else:
            out["write_amp"] = out["space_amp"] = {"value": 0.0, "unit": "B/B"}
        attempted, failed = self.counts()
        out["error_rate"] = {"value": failed / attempted if attempted else 1.0, "unit": "fraction"}
        return out


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "finance_data_pipeline_spark")):
        print("perfbench: run from the repository root (finance_data_pipeline_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.makedirs(BUILD, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-{args.seed}-", dir=BUILD)
    try:
        _environment(run_dir, bool(args.trace))
        run = Run(args, run_dir)
        run.execute()
        attempted, failed = run.counts()
        if args.trace:
            from layers import op_jobs, per_layer
            from spans import read_event_log

            stats = read_event_log(os.path.join(run_dir, "eventlog"))
            metrics = per_layer(run, stats)
            spans_path = os.path.join(BUILD, "traces", f"{os.path.basename(run_dir)}.spans.jsonl")
            run.tr.write(spans_path)
            detail = {"workload": args.workload, "seed": args.seed, "spans": spans_path,
                      "self_s_per_pass": {k: v / run.passes for k, v in run.tr.self_seconds(
                          run.tr.find("pass", kind="pass")).items()},
                      "op_jobs": op_jobs(run, stats)}
        else:
            metrics, detail = run.end_to_end()
        detail["failures"] = run.all_failures()[:20]
        print(json.dumps({"detail": detail}, default=str))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()}}))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
