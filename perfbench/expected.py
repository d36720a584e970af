"""Expected outputs from the registry's DuckDB oracles, and the compare.

Each registry op is checked against ``registry.ORACLES[name]`` run by
DuckDB on the same input files, with the rows + schema + value compare of
``tools/mini_driver.py`` (hash equivalent: exact values, signed
zeros, NULL == NaN). Oracle results are cached under the build directory,
keyed on DuckDB's version, the oracle SQL text and the input files' bytes.
"""

from __future__ import annotations

import hashlib
import os
import pickle

import pandas as pd

from tools.mini_driver import _canon
from tools.parity_compare import values_match


def data_digest(sf_dir: str, tables) -> str:
    h = hashlib.sha256()
    for t in tables:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


class Oracles:
    """Lazily evaluated, disk-cached oracle results for one input dir."""

    def __init__(self, sf_dir: str, cache_dir: str):
        from finance_data_pipeline_spark.schemas import DRIVER_TABLES

        self.sf_dir, self.cache_dir = sf_dir, cache_dir
        self.tables = DRIVER_TABLES
        self.digest = data_digest(sf_dir, DRIVER_TABLES)
        self._con = None

    def _connect(self):
        import duckdb

        con = duckdb.connect()
        for t in self.tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        return con

    def result(self, name: str) -> pd.DataFrame:
        import duckdb

        from finance_data_pipeline_spark.registry import ORACLES

        sql = ORACLES[name]
        key = hashlib.sha256(
            f"{duckdb.__version__}\0{sql}\0{self.digest}".encode()
        ).hexdigest()
        path = os.path.join(self.cache_dir, f"{name}-{key[:24]}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        if self._con is None:
            self._con = self._connect()
        df = self._con.sql(sql).df()
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as fh:
            pickle.dump(df, fh)
        os.replace(tmp, path)
        return df

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def _to_us(pdf: pd.DataFrame) -> None:
    for c in pdf.columns:
        if "datetime" in str(pdf[c].dtype) or (
            str(pdf[c].dtype) == "object" and len(pdf) and hasattr(pdf[c].iloc[0], "isoformat")
        ):
            pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Differences between an op's output and its oracle's (empty = equal)."""
    if len(got) != len(want):
        return [f"rows {len(got)} vs {len(want)}"]
    if sorted(got.columns.str.lower()) != sorted(want.columns.str.lower()):
        return [f"cols {sorted(got.columns)} vs {sorted(want.columns)}"]
    got, want = got.copy(), want.copy()
    got.columns, want.columns = got.columns.str.lower(), want.columns.str.lower()
    _to_us(got)
    _to_us(want)
    s, o = _canon(got), _canon(want)
    if len(s):
        kinds = {c: (s[c].dtype.kind, o[c].dtype.kind) for c in s.columns if s[c].dtype.kind != o[c].dtype.kind}
        if kinds:
            return [f"dtype-kind {kinds}"]
    for col in s.columns:
        for i, (a, b) in enumerate(zip(s[col].tolist(), o[col].tolist())):
            if not values_match(a, b):
                return [f"value {col}[{i}]: {a!r} vs {b!r}"]
    return []
