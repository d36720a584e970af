"""The benchmark's own tests (not part of the repository's tier-1 suite).

Run from the repository root:

    python3 -m pytest perfbench/tests -q

The smoke runs start one Spark JVM each, at sf0.001 with a tiny ingest,
and take a few minutes in total.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

# Every end-to-end metric the benchmark defines: the gated ones on the
# result line, the rest (ingest-only or possibly zero) on the detail line.
DETAIL_METRICS = {
    "commit_p50_s": "s",
    "commit_tail_s": "s",
    "read_p50_s": "s",
    "read_tail_s": "s",
    "write_amp": "B/B",
    "space_amp": "B/B",
    "error_rate": "fraction",
}


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "3",
           "--seconds", "0", "--trace", str(trace), "--sf", "0.001",
           "--ingest-symbols", "6", "--ingest-batches", "2"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["queries", "analytics", "curation", "ingest"])
def test_smoke_end_to_end(workload):
    detail, result = _run(workload, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    for name, unit in DETAIL_METRICS.items():
        assert detail[name]["unit"] == unit
    assert detail["error_rate"]["value"] == 0
    if workload == "ingest":
        assert detail["commit_p50_s"]["value"] > 0 and detail["write_amp"]["value"] > 1


@pytest.mark.parametrize("workload", ["queries", "ingest"])
def test_smoke_traced(workload):
    detail, result = _run(workload, trace=1)
    assert result["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert os.path.getsize(detail["spans"]) > 0
    if workload == "ingest":
        assert m["io.bytes_written"] > 0 and m["io.files_written"] > 0
        assert m["ingest.jobs"] > 0 and m["summary.jobs"] > 0
        assert m["extensions.graph.jobs"] == 0
    else:
        assert m["extensions.graph.jobs"] > 0 and m["indicators.python_s"] > 0
        assert m["io.bytes_written"] == 0


def test_event_log_attributes_jobs_tasks_and_python_time(tmp_path):
    """One tiny query per op: jobs, tasks and Python-worker time land on
    the op (and phase) whose job group was set around them."""
    from pyspark.sql import SparkSession

    from spans import Tracer, idle_seconds, read_event_log

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-eventlog-test")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.sql.warehouse.dir", str(tmp_path / "warehouse"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    tr = Tracer("test", traced=True)
    tr.spark_context = spark.sparkContext
    try:
        df = spark.range(2000).selectExpr("id % 4 AS k", "id AS v")
        with tr.span("pandas_op", "indicators", kind="op", p=0):
            with tr.span("run", "indicators", group="0|pandas_op|run"):
                df.groupBy("k").applyInPandas(lambda pdf: pdf, schema="k long, v long").toPandas()
        with tr.span("plain_op", "registry", kind="op", p=0) as plain:
            with tr.span("build", "registry", group="0|plain_op|build"):
                n = df.count()  # an eager job while "building"
            with tr.span("run", "registry", group="0|plain_op|run"):
                df.groupBy("k").count().collect()
    finally:
        spark.stop()
    assert n == 2000
    stats = read_event_log(str(log_dir))
    pandas_run = stats["0|pandas_op|run"]
    assert pandas_run.jobs >= 1 and pandas_run.tasks >= 1
    assert pandas_run.python_s > 0 and pandas_run.python_mb > 0
    build, run = stats["0|plain_op|build"], stats["0|plain_op|run"]
    assert build.jobs >= 1 and run.jobs >= 1 and run.tasks >= 1
    assert build.python_s == run.python_s == 0
    tasks = build.task_spans + run.task_spans
    assert all(plain.start - 1 <= lo <= hi <= plain.end + 1 for lo, hi in tasks)
    assert 0 <= idle_seconds(plain.start, plain.end, tasks) <= plain.seconds


def test_idle_seconds_merges_overlapping_tasks():
    from spans import idle_seconds

    assert idle_seconds(0, 10, []) == 10
    assert idle_seconds(0, 10, [(1, 3), (2, 4), (6, 7), (9, 12)]) == pytest.approx(5)


def test_tail_is_highest_percentile_with_ten_beyond():
    from run import tail

    assert tail(list(range(10))) == (None, None)
    assert tail(list(range(20))) == (9, 50.0)


def test_ingest_expected_store_follows_boundary_rule():
    import datagen

    history, batches, expected = datagen.ohlcv_batches(5, n_symbols=4, history_days=10, n_batches=3)
    assert len(history) == 40 and len(batches) == 3
    per_batch = expected[expected["commit"] > 0]
    # 5 new days per symbol and batch, minus the planted invalid rows;
    # never a re-fetched day that was already stored valid.
    assert len(per_batch) <= 3 * 4 * 5
    assert not per_batch.duplicated(["Symbol", "Date"]).any()
    assert not expected.duplicated(["Symbol", "Date"]).any()
