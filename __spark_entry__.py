"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementations live in ``finance_data_pipeline_spark.registry``; this
module is the thin adapter the driver imports.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7 M0): build the OHLCV fixture from
    events, run the EP2 indicator chain (SMA_20, Daily_Return) and the
    per-symbol performance summary — P1-P5, W1, W9, A3-A7 end-to-end."""
    from finance_data_pipeline_spark import fixtures, indicators
    from finance_data_pipeline_spark.session import tune_session

    tune_session(spark)
    stocks = fixtures.stocks(spark, "/root/testdata/sf0.001")
    enriched = stocks.select(
        "symbol",
        "date",
        "close",
        "volume",
        F.round(indicators.sma("close", 20), 6).alias("sma_20"),
        F.round(indicators.daily_return("close", "date"), 6).alias("daily_return"),
    )
    return (
        enriched.groupBy("symbol")
        .agg(
            F.count("*").alias("trading_days"),
            F.min("date").alias("period_start"),
            F.max("date").alias("period_end"),
            F.max_by("close", "date").alias("last_close"),
            F.max_by("sma_20", "date").alias("last_sma_20"),
            F.round(F.avg("daily_return"), 6).alias("avg_daily_return"),
        )
        .orderBy("symbol")
    )


# Driver-check order: the driver's correctness pass covers a window of
# queries in dict order (each round records the first 50). Oracle-backed
# queries go first, least recently confirmed first: by the latest round
# whose CORRECTNESS_rNN.json (beside this file) recorded hash_match true,
# 0 if none did. So each window goes to the queries checked longest ago
# and every oracle comes round again. Rows-only queries (no oracle; the
# driver records err "no_oracle") go last. Ties keep registry order.


def _last_green() -> dict[str, int]:
    """Query name -> latest round N whose CORRECTNESS_rNN.json recorded
    a hash match for it (queries never matched are absent)."""
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for fname in os.listdir(here):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if not m:
            continue
        try:
            with open(os.path.join(here, fname)) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("hash_match") is True:
                last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def _ordered(mapping: dict) -> dict:
    from finance_data_pipeline_spark.registry import ORACLES

    last = _last_green()
    return dict(
        sorted(
            mapping.items(),
            key=lambda kv: (kv[0] not in ORACLES, last.get(kv[0], 0)),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from finance_data_pipeline_spark.registry import QUERIES

    return _ordered(dict(QUERIES))


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable SQL twins for every oracle-checkable query."""
    from finance_data_pipeline_spark.registry import ORACLES

    return _ordered(dict(ORACLES))
