"""Mini-driver: run every registered query on Spark AND its DuckDB
oracle on the same parquet, compare order-insensitively — the same
check the real driver performs at sf0.01 (run here at sf0.001 for
speed; set PARITY_SF_DIR to widen).

This is the primary correctness gate (SURVEY.md §5.1).
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

from finance_data_pipeline_spark.schemas import DRIVER_TABLES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


def _oracle_conn():
    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            # Unify NA sentinels BEFORE stringifying: Spark's toPandas
            # uses None where duckdb's .df() uses np.nan for the same
            # SQL NULL (seen on nullable booleans) — astype(str) would
            # freeze them as 'None' vs 'nan' and fake a mismatch.
            import pandas as _pd

            df[c] = df[c].where(_pd.notna(df[c]), None).astype(str)
    df = df.sort_values(list(df.columns), ignore_index=True)
    return df


def _values_match(a, b) -> bool:
    """Driver-hash-equivalent compare — canonical implementation
    shared with tools/mini_driver.py (signbit-sensitive for zeros and
    NaN, element-wise on arrays); see tools/parity_compare.py for the
    round-6 rationale."""
    from tools.parity_compare import values_match

    return values_match(a, b)


def _names():
    from finance_data_pipeline_spark.registry import ORACLES

    return sorted(ORACLES)


@pytest.mark.parametrize("name", _names())
def test_query_matches_oracle(spark, name):
    from finance_data_pipeline_spark.registry import ORACLES, QUERIES

    spark_pdf = QUERIES[name](spark, SF_DIR).toPandas()
    con = _oracle_conn()
    oracle_pdf = con.sql(ORACLES[name]).df()

    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} vs oracle {len(oracle_pdf)}"
    )
    assert sorted(spark_pdf.columns.str.lower()) == sorted(
        oracle_pdf.columns.str.lower()
    ), f"{name}: columns {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"

    spark_pdf.columns = spark_pdf.columns.str.lower()
    oracle_pdf.columns = oracle_pdf.columns.str.lower()
    # Normalize temporal types for comparison.
    for pdf in (spark_pdf, oracle_pdf):
        for c in pdf.columns:
            if "datetime" in str(pdf[c].dtype) or str(pdf[c].dtype) == "object" and len(pdf) and hasattr(pdf[c].iloc[0], "isoformat"):
                pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
    s, o = _canon(spark_pdf), _canon(oracle_pdf)

    # The driver's value hash is dtype-sensitive: DuckDB sum() over
    # integers yields HUGEINT which pandas materializes as float64,
    # while Spark yields int64 — values compare equal but hashes don't
    # (round-3 driver rows for priority_line_counts / packed_sequences
    # / token_budget_sample). Replicate that sensitivity here: after
    # canonicalization every column's dtype *kind* must agree.
    if len(s):
        kind_diff = {
            c: (s[c].dtype.kind, o[c].dtype.kind)
            for c in s.columns
            if s[c].dtype.kind != o[c].dtype.kind
        }
        assert not kind_diff, (
            f"{name}: dtype-kind mismatch (spark, oracle): {kind_diff} — "
            "cast the oracle (usually CAST(sum(...) AS BIGINT)) or the "
            "Spark column so both engines materialize the same type"
        )

    mismatches = []
    for col in s.columns:
        sv, ov = s[col].tolist(), o[col].tolist()
        for i, (a, b) in enumerate(zip(sv, ov)):
            if not _values_match(a, b):
                mismatches.append((col, i, a, b))
                if len(mismatches) >= 5:
                    break
        if len(mismatches) >= 5:
            break
    assert not mismatches, f"{name}: value mismatches (col,row,spark,oracle): {mismatches}"


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    out = entrymod.entry(spark)
    rows = out.collect()
    assert len(rows) > 0
    assert "symbol" in out.columns


def _rows_only_names():
    from finance_data_pipeline_spark.registry import ORACLES, QUERIES

    return sorted(set(QUERIES) - set(ORACLES))


@pytest.mark.parametrize("name", _rows_only_names())
def test_rows_only_query_runs_with_stable_schema(spark, name):
    """Queries without a SQL oracle still face the driver's rows-only
    check: they must execute, return a non-empty deterministic schema,
    and be re-runnable (same row count twice)."""
    from finance_data_pipeline_spark.registry import QUERIES

    df = QUERIES[name](spark, SF_DIR)
    assert df.columns, name
    schema1 = df.schema.simpleString()
    n1 = df.count()
    df2 = QUERIES[name](spark, SF_DIR)
    assert df2.schema.simpleString() == schema1
    assert df2.count() == n1
