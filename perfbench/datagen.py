"""Seeded input generators for the benchmark.

``write_tables`` writes the ten tables of TESTDATA.md (TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``) with the same
column types and value distributions as that test data, so every
registry query and its DuckDB oracle run unchanged on them:

* row counts scale with ``sf`` as in the test data (lineitem 6M x sf,
  events 1M x sf over January 2024, documents max(500, 50k x sf),
  embeddings max(500, 20k x sf));
* documents are 10-100 word soups over a 30-word vocabulary, and 5% of
  them are a copy of another document plus the token ``dup``;
* embeddings are random unit vectors of dimension 64 with 10 labels.

``ohlcv_batches`` builds the ``ingest`` workload's vendor-layout input
and the store contents a correct pipeline must end with.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "cog", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.14, 0.15, 0.15, 0.15]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, (hi_d - lo_d).astype(int) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_texts(rng, n: int) -> list[str]:
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 101, n)]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return texts


def tables(sf: float, seed: int = 42) -> dict[str, pd.DataFrame]:
    """The ten test-data tables at scale factor ``sf`` as pandas frames."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_user = max(15, int(15_000 * sf))
    pick = lambda values, n: np.array(values)[rng.integers(0, len(values), n)]  # noqa: E731

    out = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype="int32"),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype("int32"),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": pick(SEGMENTS, n_cust),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype="int64"),
                "p_name": np.char.add(
                    np.char.add(pick(PART_ADJ, n_part), " "), pick(PART_NOUN, n_part)
                ),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                "p_type": pick(PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype("int32"),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype="int64"),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": pick(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": pick(PRIORITIES, n_ord),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line),
                "l_partkey": rng.integers(0, n_part, n_line),
                "l_suppkey": rng.integers(0, n_supp, n_line),
                "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
                "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
                "l_extendedprice": _money(rng, 900, 105_000, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100,
                "l_tax": rng.integers(0, 9, n_line) / 100,
                "l_returnflag": pick(["A", "N", "R"], n_line),
                "l_linestatus": pick(["F", "O"], n_line),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
            }
        ),
    }
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_user, n_ev),
            "event_type": pick(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = _doc_texts(rng, n_doc)
    out["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n_doc, p=LANG_WEIGHTS)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    vecs = rng.standard_normal((n_vec, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vec, dtype="int64"),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_vec).astype("int32"),
        }
    )
    return out


def write_tables(out_dir: str, sf: float, seed: int = 42) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every test-data table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(sf, seed).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


# --- ingest workload ------------------------------------------------------

VENDOR_COLUMNS = ["Symbol", "Date", "Open", "High", "Low", "Close", "Adj Close", "Volume"]


def _weekdays(start: dt.date, n: int) -> list[dt.date]:
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def _bars(rng, symbols: list[str], days: list[dt.date], last_close: np.ndarray) -> pd.DataFrame:
    """Valid OHLCV bars: one geometric random walk per symbol."""
    n_sym, n_day = len(symbols), len(days)
    steps = np.exp(rng.normal(0.0, 0.015, (n_sym, n_day)))
    close = last_close[:, None] * np.cumprod(steps, axis=1)
    open_ = np.concatenate([last_close[:, None], close[:, :-1]], axis=1)
    spread = rng.uniform(0.0, 0.02, (2, n_sym, n_day))
    high = np.maximum(open_, close) * (1 + spread[0])
    low = np.minimum(open_, close) * (1 - spread[1])
    return pd.DataFrame(
        {
            "Symbol": np.repeat(symbols, n_day),
            "Date": np.tile(np.array(days, dtype=object), n_sym),
            "Open": np.round(open_, 4).ravel(),
            "High": np.round(high, 4).ravel(),
            "Low": np.round(low, 4).ravel(),
            "Close": np.round(close, 4).ravel(),
            "Adj Close": np.round(close * 0.98, 4).ravel(),
            "Volume": rng.integers(1_000, 5_000_000, n_sym * n_day),
        }
    )


# Each planted row breaks exactly one ``quality`` rule.
def _break(df: pd.DataFrame, rows: np.ndarray, rng) -> None:
    kinds = rng.integers(0, 5, len(rows))
    for r, k in zip(rows, kinds):
        i = df.index[r]
        if k == 0:
            df.loc[i, "Volume"] = -int(df.loc[i, "Volume"])
        elif k == 1:
            df.loc[i, "High"] = df.loc[i, "Low"] * 0.9
        elif k == 2:
            df.loc[i, "Close"] = df.loc[i, "Open"] * 1.8
            df.loc[i, "High"] = df.loc[i, "Close"]
        elif k == 3:
            df.loc[i, ["Open", "High", "Low", "Close"]] = 0.0
        else:
            df.loc[i, "Open"] = np.nan


def ohlcv_batches(
    seed: int,
    n_symbols: int = 500,
    history_days: int = 250,
    n_batches: int = 12,
    new_days: int = 5,
    bad_share: float = 0.02,
) -> tuple[pd.DataFrame, list[pd.DataFrame], pd.DataFrame]:
    """History, weekly batches and the expected final store.

    ``expected`` holds every row a correct store keeps, with ``commit``
    = the batch (1-based; 0 = history) whose commit added it.

    Every batch carries ``new_days`` new trading days plus a re-fetch of
    the previous batch's last day with revised prices, and a
    ``bad_share`` of its rows break a quality rule. A correct pipeline
    keeps only valid rows dated after the symbol's stored maximum, so the
    re-fetched day never replaces what is stored unless the stored copy
    was invalid.
    """
    rng = np.random.default_rng(seed)
    symbols = [f"T{i:04d}" for i in range(n_symbols)]
    days = _weekdays(dt.date(2023, 1, 2), history_days + n_batches * new_days)
    start = rng.uniform(10.0, 500.0, n_symbols)
    history = _bars(rng, symbols, days[:history_days], start)
    last = history.groupby("Symbol", sort=True)["Close"].last().to_numpy()
    batches = []
    stored_max = {s: days[history_days - 1] for s in symbols}
    kept = [history.assign(commit=0)]
    for b in range(n_batches):
        lo = history_days + b * new_days
        new = _bars(rng, symbols, days[lo : lo + new_days], last)
        last = new.groupby("Symbol", sort=True)["Close"].last().to_numpy()
        refetch = _bars(rng, symbols, [days[lo - 1]], last * 0.97)
        batch = pd.concat([refetch, new]).sort_values(["Symbol", "Date"], kind="stable")
        batch = batch.reset_index(drop=True)
        bad = rng.choice(len(batch), int(len(batch) * bad_share), replace=False)
        _break(batch, bad, rng)
        valid = np.ones(len(batch), bool)
        valid[bad] = False
        keep = valid & np.array(
            [d > stored_max[s] for s, d in zip(batch["Symbol"], batch["Date"])]
        )
        kept.append(batch[keep].assign(commit=b + 1))
        for s, d in zip(batch["Symbol"][keep], batch["Date"][keep]):
            stored_max[s] = max(stored_max[s], d)
        batches.append(batch)
    expected = pd.concat(kept, ignore_index=True).sort_values(["Symbol", "Date"])
    return history, batches, expected.reset_index(drop=True)
