"""The three workloads: op lists, the layer each op calls, and the loops.

Every workload is a closed loop with one client: each op starts only
after the previous one has finished. An op is timed from outside the
library, around the public function it calls:

* ``analytics`` and ``curation``: ``registry.QUERIES[name]`` builds the
  plan (the build phase) and ``toPandas()`` runs it (the run phase);
* ``ingest``: a commit is ``io.read_snapshot`` -> ``ingest.ingest_batch``
  -> ``io.write_snapshot``; the read after it is ``summary.dashboard_frame``
  and ``summary.performance_summary`` on the committed snapshot.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass

import pandas as pd

import datagen

# op -> the module whose public function it calls ("registry" = inline body)
ANALYTICS = {
    "pricing_summary": "registry",
    "revenue_by_nation": "registry",
    "nation_trade_volume": "registry",
    "vwap_daily": "registry",
    "rolling_beta_30": "registry",
    "hurst_rs": "registry",
    "event_funnel": "registry",
    "user_retention": "registry",
    "sma": "indicators",
    "rsi_14": "indicators",
    "ema_macd": "indicators",
    "perf_summary": "summary",
    "asof_join_events_bars": "operators.relational",
    "upsert_merge": "ingest",
}
CURATION = {
    "near_dup_pairs": "extensions.dedup",
    "dup_clusters": "extensions.dedup",
    "bloom_decontaminate": "extensions.dedup",
    "bm25_topk": "extensions.text",
    "bpe_merges": "extensions.text",
    "ann_topk_pq": "extensions.similarity",
    "kmeans_clusters": "extensions.similarity",
    "supplier_customer_pagerank": "extensions.graph",
    "label_prop_communities": "extensions.graph",
}
# The benchmarked cut of both lists: every layer above, in a pass short
# enough that 22 runs fit the benchmark's time budget (see DESIGN.md).
QUERIES = {
    name: layer
    for name, layer in {**ANALYTICS, **CURATION}.items()
    if name
    in (
        "pricing_summary",
        "ema_macd",
        "perf_summary",
        "asof_join_events_bars",
        "upsert_merge",
        "near_dup_pairs",
        "bpe_merges",
        "kmeans_clusters",
        "label_prop_communities",
    )
}
QUERY_WORKLOADS = {"queries": QUERIES, "analytics": ANALYTICS, "curation": CURATION}
WORKLOADS = (*QUERY_WORKLOADS, "ingest")
LAYERS = tuple(dict.fromkeys([*ANALYTICS.values(), *CURATION.values()]))


def pass_order(ops: dict, seed: int, p) -> list[str]:
    order = sorted(ops)
    random.Random(f"{seed}/{p}").shuffle(order)
    return order


def query_pass(spark, tr, ops: dict, order: list[str], sf_dir: str, p) -> dict:
    """One pass over ``order``; returns op -> output frame or exception."""
    from finance_data_pipeline_spark.registry import QUERIES

    out = {}
    for name in order:
        layer = ops[name]
        with tr.span(name, layer, kind="op", p=p) as op:
            try:
                with tr.span("build", layer, group=f"{p}|{name}|build"):
                    df = QUERIES[name](spark, sf_dir)
                with tr.span("run", layer, group=f"{p}|{name}|run"):
                    out[name] = df.toPandas()
            except Exception as exc:  # noqa: BLE001 - counted in error_rate
                op.attrs["error"] = f"{type(exc).__name__}: {exc}"[:300]
                out[name] = exc
    return out


# --- ingest ----------------------------------------------------------------


@dataclass
class IngestInput:
    """Staged vendor-layout files, the initial store and the read plan."""

    history: str
    batches: list[str]
    store0: str
    expected: pd.DataFrame  # symbol, date, ..., plus the commit that added it
    reads: list[tuple[str, object, object]]  # (symbol, start, end) per commit
    n_symbols: int

    def input_bytes(self) -> int:
        return sum(os.path.getsize(f) for f in self.batches)


def stage_ingest(spark, root: str, seed: int, **sizes) -> IngestInput:
    """Write the seeded inputs and commit the history as version 1."""
    from finance_data_pipeline_spark import ingest, io

    history, batches, expected = datagen.ohlcv_batches(seed, **sizes)
    os.makedirs(os.path.join(root, "input"))
    hist_path = os.path.join(root, "input", "history.parquet")
    history.to_parquet(hist_path, index=False)
    paths = []
    for k, b in enumerate(batches):
        paths.append(os.path.join(root, "input", f"batch_{k:02d}.parquet"))
        b.to_parquet(paths[-1], index=False)
    store0 = os.path.join(root, "initial")
    io.write_snapshot(ingest.ingest_batch(spark.read.parquet(hist_path), None), store0)
    rng = random.Random(seed)
    days = sorted(history["Date"].unique())
    symbols = sorted(history["Symbol"].unique())
    reads = []
    for _ in batches:
        lo = rng.randrange(len(days) // 2)
        reads.append((rng.choice(symbols), days[lo], days[min(len(days) - 1, lo + rng.randint(60, 180))]))
    return IngestInput(hist_path, paths, store0, expected, reads, len(symbols))


def dir_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


def ingest_pass(spark, tr, inp: IngestInput, store: str, p) -> dict:
    """Commit every batch, each followed by the dashboard reads.

    Failed calls and failed read checks are recorded on the op's span;
    returns the bytes and files the commits wrote."""
    from finance_data_pipeline_spark import ingest, io, summary

    shutil.copytree(inp.store0, store)
    written = files = 0
    for k, batch in enumerate(inp.batches):
        with tr.span(f"cycle{k}", "bench", kind="cycle", p=p):
            with tr.span(f"commit{k}", "ingest", kind="op", p=p) as op:
                try:
                    with tr.span("build", "ingest", group=f"{p}|commit{k}|build"):
                        with tr.span("io.read_snapshot", "io", call="read_snapshot"):
                            existing = io.read_snapshot(spark, store)
                        with tr.span("ingest.ingest_batch", "ingest"):
                            merged = ingest.ingest_batch(spark.read.parquet(batch), existing)
                    with tr.span("run", "ingest", group=f"{p}|commit{k}|run"):
                        with tr.span("io.write_snapshot", "io", call="write_snapshot"):
                            version = io.write_snapshot(merged, store)
                    size, n = dir_bytes(os.path.join(store, f"v={version}"))
                    written, files = written + size, files + n
                except Exception as exc:  # noqa: BLE001 - counted in error_rate
                    op.attrs["error"] = f"{type(exc).__name__}: {exc}"[:300]
            symbol, lo, hi = inp.reads[k]
            read = None
            with tr.span(f"read{k}", "summary", kind="op", p=p) as op:
                try:
                    with tr.span("build", "summary", group=f"{p}|read{k}|build"):
                        with tr.span("io.read_snapshot", "io", call="read_snapshot"):
                            stocks = io.read_snapshot(spark, store)
                    with tr.span("summary.dashboard_frame", "summary", call="dashboard"):
                        with tr.span("build", "summary", group=f"{p}|read{k}|build"):
                            dash = summary.dashboard_frame(stocks, symbol, lo, hi)
                        with tr.span("run", "summary", group=f"{p}|read{k}|run"):
                            dash = dash.toPandas()
                    with tr.span("summary.performance_summary", "summary", call="performance"):
                        with tr.span("build", "summary", group=f"{p}|read{k}|build"):
                            perf = summary.performance_summary(stocks)
                        with tr.span("run", "summary", group=f"{p}|read{k}|run"):
                            read = (dash, perf.toPandas())
                except Exception as exc:  # noqa: BLE001 - counted in error_rate
                    op.attrs["error"] = f"{type(exc).__name__}: {exc}"[:300]
        if read is not None:  # checked outside the timed cycle
            err = _check_read(inp, k, symbol, lo, hi, *read)
            if err:
                op.attrs["error"] = err
    return {"bytes_written": written, "files_written": files}


def _check_read(inp: IngestInput, k, symbol, lo, hi, dash, perf) -> str | None:
    exp = inp.expected[inp.expected["commit"] <= k + 1]
    want = int(((exp["Symbol"] == symbol) & (exp["Date"] >= lo) & (exp["Date"] <= hi)).sum())
    if len(dash) != want:
        return f"dashboard rows {len(dash)} vs {want}"
    if len(perf) != inp.n_symbols or int(perf["trading_days"].sum()) != len(exp):
        return f"performance_summary rows/days {len(perf)}/{perf['trading_days'].sum()} vs {inp.n_symbols}/{len(exp)}"
    return None


def check_store(spark, inp: IngestInput, store: str) -> str | None:
    """The final store must hold exactly the rows the generator expects."""
    from finance_data_pipeline_spark import io

    got = io.read_snapshot(spark, store).toPandas().sort_values(["symbol", "date"], ignore_index=True)
    want = inp.expected.drop(columns="commit").rename(
        columns={c: c.lower().replace(" ", "_") for c in inp.expected.columns}
    )
    want = want[list(got.columns)].sort_values(["symbol", "date"], ignore_index=True)
    if len(got) != len(want):
        return f"store rows {len(got)} vs {len(want)}"
    for col in got.columns:
        bad = [(a, b) for a, b in zip(got[col].tolist(), want[col].tolist()) if a != b]
        if bad:
            return f"store {col}: {len(bad)} differ, first {bad[0]!r}"
    return None
