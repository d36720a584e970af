#!/usr/bin/env python
"""Standalone mini-driver: replay the driver's correctness check
(rows + schema + dtype-sensitive value compare) for a chosen set of
queries at a chosen SF dir — the same semantics as
tests/test_oracle_parity.py but runnable on an arbitrary subset
without pytest parametrization overhead.

Usage:
  python tools/mini_driver.py --sf /root/testdata/sf0.01 [--window 50]
  python tools/mini_driver.py --sf /root/testdata/sf0.01 name1 name2 ...
  python tools/mini_driver.py --sf /root/testdata/sf0.01 --never-green

Prints one status line per query and a final summary; exit code 1 on
any failure.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            # Unify NA sentinels BEFORE stringifying: Spark's toPandas
            # uses None where duckdb's .df() uses np.nan for the same
            # SQL NULL (seen on nullable booleans) — astype(str) would
            # freeze them as 'None' vs 'nan' and fake a mismatch.
            import pandas as _pd

            df[c] = df[c].where(_pd.notna(df[c]), None).astype(str)
    return df.sort_values(list(df.columns), ignore_index=True)


def check_one(spark, con, name, sf_dir):
    import pandas as pd

    from finance_data_pipeline_spark.registry import ORACLES, QUERIES

    t0 = time.time()
    spark_pdf = QUERIES[name](spark, sf_dir).toPandas()
    oracle_pdf = con.sql(ORACLES[name]).df()
    errs = []
    if len(spark_pdf) != len(oracle_pdf):
        errs.append(f"rows {len(spark_pdf)} vs {len(oracle_pdf)}")
    if sorted(spark_pdf.columns.str.lower()) != sorted(
        oracle_pdf.columns.str.lower()
    ):
        errs.append(
            f"cols {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
        )
    if not errs:
        spark_pdf.columns = spark_pdf.columns.str.lower()
        oracle_pdf.columns = oracle_pdf.columns.str.lower()
        for pdf in (spark_pdf, oracle_pdf):
            for c in pdf.columns:
                if "datetime" in str(pdf[c].dtype) or (
                    str(pdf[c].dtype) == "object"
                    and len(pdf)
                    and hasattr(pdf[c].iloc[0], "isoformat")
                ):
                    pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
        s, o = _canon(spark_pdf), _canon(oracle_pdf)
        if len(s):
            kind_diff = {
                c: (s[c].dtype.kind, o[c].dtype.kind)
                for c in s.columns
                if s[c].dtype.kind != o[c].dtype.kind
            }
            if kind_diff:
                errs.append(f"dtype-kind {kind_diff}")
        # signbit-sensitive (the round-6 lesson): -0.0 vs +0.0 is a
        # driver hash mismatch even though Python's == says equal.
        from tools.parity_compare import values_match

        for col in s.columns:
            if errs:
                break
            for i, (a, b) in enumerate(zip(s[col].tolist(), o[col].tolist())):
                if not values_match(a, b):
                    errs.append(f"value {col}[{i}]: {a!r} vs {b!r}")
                    break
    return errs, time.time() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--window", type=int, default=None,
                    help="check the first N of the driver's order")
    ap.add_argument("--never-green", action="store_true",
                    help="check every oracle-backed query no CORRECTNESS_r*.json hash-matched")
    ap.add_argument("--skip", type=int, default=0,
                    help="skip the first N of the selected set")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from finance_data_pipeline_spark.registry import ORACLES
    from finance_data_pipeline_spark.schemas import DRIVER_TABLES
    from finance_data_pipeline_spark.session import get_spark

    ordered = list(entrymod._ordered(dict(ORACLES)))
    if args.names:
        names = args.names
    elif args.never_green:
        last_green = entrymod._last_green()
        names = [n for n in ordered if n not in last_green]
    else:
        names = ordered[: (args.window or 50)]
    names = names[args.skip:]

    spark = get_spark()
    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'"
        )

    n_fail = 0
    for i, name in enumerate(names):
        try:
            errs, dt = check_one(spark, con, name, args.sf)
        except Exception as exc:  # noqa: BLE001
            errs, dt = [f"EXC {type(exc).__name__}: {exc}"], 0.0
        status = "ok" if not errs else "FAIL"
        if errs:
            n_fail += 1
        print(f"[{i+1}/{len(names)}] {status:4s} {name} ({dt:.1f}s)"
              + (f" :: {'; '.join(errs)[:500]}" if errs else ""), flush=True)
    print(f"\nsummary: {len(names) - n_fail}/{len(names)} ok at {args.sf}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
