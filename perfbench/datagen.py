"""Seeded input generators for the benchmark.

Two families, both written as parquet with pyarrow (no Spark), so the
program under test only ever receives finished files:

* ``write_raw`` -- the reference's raw extracts (FIXTURES.md sections 2-4)
  at scale: ``info`` (one stringly-typed row per ticker, ~1 kB business
  summary, 20 noise columns), ``stock`` (24 monthly rows per ticker) and
  ``financials`` (quarterly rows). Column names are the yfinance-style
  raw names, so the program's own name normalization is exercised. The
  edge cases the serving path depends on are planted deliberately: one
  industry holds 30% of the tickers, one industry holds exactly one,
  2% of tickers have no industry, tickers with a single quarter, tickers
  whose latest quarter is tied, tickers present in the financials but
  absent from ``info``, zero EBITDA and zero liabilities (NULL-on-zero
  division), and NULLs inside every averaged input.
* ``write_star`` -- the TPC-H-shaped tables the headline catalog queries
  read (region, nation, customer, orders, lineitem) with the column
  types and value ranges of the sf0.1 testdata (TESTDATA.md), scaled to a
  given scale factor. The headline uses sf0.25 (1.5M lineitem rows) with
  a fixed data seed, so it stays one comparable scale factor; the run
  seed only permutes the query order. (At sf1 a pass takes ~12 s on a
  4-core host: too few passes per run for a steady median, and too long
  a run for the number of runs a comparison takes.)

``ticker_stream`` draws the dashboard users' Zipf-skewed ticker requests.

Every generator is a pure function of its arguments: the same seed gives
byte-identical files (the self-tests check this).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MONTHS = [f"{y}-{m:02d}" for y in (2023, 2024) for m in range(1, 13)]
QUARTER_MONTHS = [f"{y}-{m:02d}" for y in range(2021, 2025) for m in (3, 6, 9, 12)]
INDUSTRIES = [
    "Software",
    "Banks",
    "Biotechnology",
    "Semiconductors",
    "Oil & Gas",
    "Retail",
    "Utilities",
    "Insurance",
    "Aerospace",
    "Media",
    "Real Estate",
]
HOT_INDUSTRY = INDUSTRIES[0]  # holds 30% of the tickers
SOLO_INDUSTRY = "Shell Companies"  # holds exactly one ticker
INFO_NOISE = [
    "address1", "city", "state", "zip", "country", "phone", "sector",
    "exchange", "currency", "quoteType", "beta", "marketCap",
    "fiftyTwoWeekHigh", "fiftyTwoWeekLow", "averageVolume", "bookValue",
    "priceToBook", "auditRisk", "boardRisk", "governanceEpochDate",
]
FIN_NOISE = [
    "Total Revenue", "Gross Profit", "Operating Income", "Interest Expense",
    "Tax Provision", "Total Assets", "Total Liabilities",
    "Stockholders Equity", "Capital Expenditure", "Inventory",
]
_WORDS = (
    "global leading provider innovative solutions customers markets growth "
    "products services technology platform enterprise segment operations "
    "revenue portfolio strategic capital infrastructure digital consumer "
    "industrial energy healthcare financial regional international network "
    "development research manufacturing distribution retail wholesale "
    "investment management advisory software hardware data cloud security"
).split()


def _tickers(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct 5-letter upper-case symbols."""
    codes = rng.choice(26**5, size=n, replace=False)
    letters = np.empty((n, 5), dtype="U1")
    for i in range(5):
        letters[:, 4 - i] = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))[codes % 26]
        codes = codes // 26
    return np.array(["".join(r) for r in letters])


def _num_str(values: np.ndarray, null_frac: float, rng: np.random.Generator) -> pa.Array:
    """Numbers stringified the way the raw API extract stores them."""
    mask = rng.random(len(values)) < null_frac
    return pa.array(np.round(values, 4), mask=mask).cast(pa.string())


def _doubles(values: np.ndarray, null_frac: float, rng: np.random.Generator) -> pa.Array:
    mask = rng.random(len(values)) < null_frac if null_frac else None
    return pa.array(np.round(values, 2), mask=mask)


class RawData:
    """Where ``write_raw`` put the three raw extracts, the tickers in
    ``info`` and the fixed ticker sample the serve check always covers."""

    def __init__(self, root: str):
        self.root = root
        self.info = os.path.join(root, "info.parquet")
        self.stock = os.path.join(root, "stock.parquet")
        self.financials = os.path.join(root, "financials.parquet")
        with open(os.path.join(root, "meta.json")) as fh:
            meta = json.load(fh)
        self.tickers: list[str] = meta["tickers"]
        self.sample: list[str] = meta["sample"]


def write_raw(root: str, seed: int, n_tickers: int) -> None:
    """Write the raw info/stock/financials extracts for ``n_tickers``."""
    rng = np.random.default_rng([seed, n_tickers, 1])
    os.makedirs(root, exist_ok=True)
    n_orphans = 3
    symbols = _tickers(rng, n_tickers + n_orphans)
    tickers, orphans = symbols[:n_tickers], symbols[n_tickers:]

    # --- info: one row per ticker, every value a string ---------------
    ind_idx = np.where(
        rng.random(n_tickers) < 0.30, 0, rng.integers(1, len(INDUSTRIES), n_tickers)
    )
    industry = np.array(INDUSTRIES, dtype=object)[ind_idx]
    industry[rng.random(n_tickers) < 0.02] = None
    industry[n_tickers // 2] = SOLO_INDUSTRY
    sentences = [
        " ".join(rng.choice(_WORDS, size=18)).capitalize() + "." for _ in range(256)
    ]
    pick = rng.integers(0, len(sentences), size=(n_tickers, 8))
    summary = [" ".join(sentences[j] for j in row) for row in pick]
    employees = np.round(rng.lognormal(7, 2, n_tickers))
    employees[rng.random(n_tickers) < 0.02] = 0
    price = rng.lognormal(3.5, 1.0, n_tickers)
    info = {
        "ticker": pa.array(tickers),
        "shortName": pa.array([f"{t} Holdings, Inc." for t in tickers]),
        "website": pa.array(
            [f"https://www.{t.lower()}.example.com" for t in tickers],
            mask=rng.random(n_tickers) < 0.05,
        ),
        "industry": pa.array(industry, type=pa.string()),
        "longBusinessSummary": pa.array(summary),
        "fullTimeEmployees": _num_str(employees, 0.10, rng),
        "sharesOutstanding": _num_str(np.round(rng.lognormal(18, 1.5, n_tickers)), 0.05, rng),
        "previousClose": _num_str(price, 0.0, rng),
        "freeCashflow": _num_str(rng.normal(2e8, 8e8, n_tickers), 0.10, rng),
        "operatingCashflow": _num_str(rng.normal(5e8, 9e8, n_tickers), 0.10, rng),
        "dividendYield": _num_str(rng.uniform(0, 0.08, n_tickers), 0.40, rng),
        "trailingPE": _num_str(rng.lognormal(3, 0.6, n_tickers), 0.15, rng),
        "debtToEquity": _num_str(rng.lognormal(4, 1, n_tickers), 0.10, rng),
        "returnOnAssets": _num_str(rng.normal(0.05, 0.08, n_tickers), 0.10, rng),
        "returnOnEquity": _num_str(rng.normal(0.12, 0.2, n_tickers), 0.10, rng),
    }
    for j, name in enumerate(INFO_NOISE):
        info[name] = pa.array([f"{name}-{j}-{k}" for k in rng.integers(0, 500, n_tickers)])
    pq.write_table(pa.table(info), os.path.join(root, "info.parquet"))

    # --- stock: 24 months per ticker, 5% of tickers with gaps ----------
    n_sym = len(symbols)
    n_m = len(MONTHS)
    start = rng.lognormal(3.5, 1.0, n_sym)
    walk = start[:, None] * np.cumprod(
        np.exp(rng.normal(0.005, 0.08, (n_sym, n_m))), axis=1
    )
    opening = np.concatenate([start[:, None], walk[:, :-1]], axis=1)
    keep = np.ones((n_sym, n_m), dtype=bool)
    gappy = rng.random(n_sym) < 0.05
    keep[gappy] = rng.random((int(gappy.sum()), n_m)) > 0.25
    sym_idx, month_idx = np.nonzero(keep)
    o, c = opening[keep], walk[keep]
    hi = np.maximum(o, c) * (1 + rng.uniform(0, 0.1, len(o)))
    lo = np.minimum(o, c) * (1 - rng.uniform(0, 0.1, len(o)))
    stock = pa.table(
        {
            "month": pa.array(np.array(MONTHS)[month_idx]),
            "ticker": pa.array(symbols[sym_idx]),
            "Open": pa.array(np.round(o, 4)),
            "High": pa.array(np.round(hi, 4)),
            "Low": pa.array(np.round(lo, 4)),
            "Close": pa.array(np.round(c, 4)),
            "Volume": pa.array(np.round(rng.lognormal(14, 1.5, len(o)))),
            "Dividends": pa.array(np.round(rng.uniform(0, 1, len(o)) * (rng.random(len(o)) < 0.1), 4)),
            "Stock Splits": pa.array(np.zeros(len(o))),
        }
    )
    pq.write_table(stock, os.path.join(root, "stock.parquet"))

    # --- financials: 4-12 quarters per ticker, planted edges ------------
    n_q = rng.integers(4, 13, n_sym)
    n_q[rng.random(n_sym) < 0.005] = 1  # single-quarter tickers
    n_q[:2] = 1
    fin_sym = np.repeat(np.arange(n_sym), n_q)
    # quarter offset from the latest quarter, counted backwards
    offs = np.arange(len(fin_sym)) - np.repeat(np.cumsum(n_q) - n_q, n_q)
    tied = np.nonzero(rng.random(n_sym) < 0.005)[0]
    tied = np.union1d(tied, [2, 3])
    fin_sym = np.concatenate([fin_sym, tied])  # a second row on the max month
    offs = np.concatenate([offs, np.zeros(len(tied), dtype=offs.dtype)])
    m = len(fin_sym)
    month = np.array(QUARTER_MONTHS)[len(QUARTER_MONTHS) - 1 - offs]
    ebitda = rng.normal(1e8, 3e8, m)
    ebitda[rng.random(m) < 0.01] = 0.0
    liabilities = rng.lognormal(18, 1.2, m)
    liabilities[rng.random(m) < 0.01] = 0.0
    fin = {
        "month": pa.array(month),
        "ticker": pa.array(symbols[fin_sym]),
        "Cash And Cash Equivalents": _doubles(rng.lognormal(18, 1.5, m), 0.05, rng),
        "EBITDA": _doubles(ebitda, 0.05, rng),
        "Net Income": _doubles(rng.normal(5e7, 2e8, m), 0.0, rng),
        "Net Debt": _doubles(rng.normal(2e8, 6e8, m), 0.0, rng),
        "Total Debt": _doubles(rng.lognormal(19, 1.3, m), 0.05, rng),
        "Current Assets": _doubles(rng.lognormal(18.5, 1.2, m), 0.0, rng),
        "Current Liabilities": _doubles(liabilities, 0.0, rng),
    }
    for name in FIN_NOISE:
        fin[name] = _doubles(rng.normal(1e8, 5e8, m), 0.0, rng)
    pq.write_table(pa.table(fin), os.path.join(root, "financials.parquet"))

    hot = int(np.nonzero((ind_idx == 0) & (industry != None))[0][0])  # noqa: E711
    # One ticker per serve user; the warm-up round runs and checks them.
    sample = [
        tickers[hot].lower(),  # the 30% industry, typed in lower case
        tickers[2],  # a tied latest quarter
        orphans[0],  # in financials and stock, absent from info and ratios
        "ZZZZZZ",  # absent everywhere
    ]
    with open(os.path.join(root, "meta.json"), "w") as fh:
        json.dump(
            {"tickers": tickers.tolist(), "sample": [str(t) for t in sample]},
            fh,
        )


# sf1 row counts (10x the sf0.1 testdata); ``write_star`` scales them.
STAR_ROWS = {"customer": 150_000, "orders": 1_500_000, "lineitem": 6_000_000}
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _row_group_size(n_rows: int) -> int:
    # ~64 row groups per table, floor 8192 rows: the warehouse-like layout
    # tools/gen_sf.py gives its replicated scale factors.
    return max(8192, -(-n_rows // 64))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=_row_group_size(table.num_rows))


def write_star(root: str, sf: float, seed: int = 42) -> None:
    """Write region/nation/customer/orders/lineitem at scale factor ``sf``."""
    rng = np.random.default_rng([seed, round(sf * 1000), 2])
    os.makedirs(root, exist_ok=True)
    _write(
        pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        os.path.join(root, "region.parquet"),
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        os.path.join(root, "nation.parquet"),
    )
    n_c = int(STAR_ROWS["customer"] * sf)
    segments = pa.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_c, dtype=np.int32)),
                "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_c), 2)),
                "c_mktsegment": segments.take(rng.integers(0, 5, n_c)),
            }
        ),
        os.path.join(root, "customer.parquet"),
    )
    n_o = int(STAR_ROWS["orders"] * sf)
    order_day = rng.integers(0, 2404, n_o)  # 1995-01-01 .. 2001-08-01
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_c, n_o, dtype=np.int64)),
                "o_orderstatus": pa.array(["F", "O", "P"]).take(rng.integers(0, 3, n_o)),
                "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_o), 2)),
                "o_orderdate": pa.array(
                    _EPOCH_1995 + order_day.astype("timedelta64[D]"), type=pa.timestamp("us")
                ),
                "o_orderpriority": pa.array(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
                ).take(rng.integers(0, 5, n_o)),
            }
        ),
        os.path.join(root, "orders.parquet"),
    )
    n_l = int(STAR_ROWS["lineitem"] * sf)
    l_order = rng.integers(0, n_o, n_l, dtype=np.int64)
    ship_day = order_day[l_order] + rng.integers(1, 122, n_l)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(l_order),
                "l_partkey": pa.array(rng.integers(0, max(1, int(200_000 * sf)), n_l, dtype=np.int64)),
                "l_suppkey": pa.array(rng.integers(0, max(1, int(10_000 * sf)), n_l, dtype=np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_l, dtype=np.int32)),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(
                    np.round(qty * rng.uniform(900, 2100, n_l), 2)
                ),
                "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
                "l_returnflag": pa.array(["A", "N", "R"]).take(rng.integers(0, 3, n_l)),
                "l_linestatus": pa.array(["F", "O"]).take(rng.integers(0, 2, n_l)),
                "l_shipdate": pa.array(
                    _EPOCH_1995 + ship_day.astype("timedelta64[D]"), type=pa.timestamp("us")
                ),
            }
        ),
        os.path.join(root, "lineitem.parquet"),
    )


def ticker_stream(seed: int, user: int, tickers: list[str], n: int) -> list[str]:
    """``n`` dashboard requests for one user, Zipf(1.1)-skewed over a
    seeded popularity order of ``tickers``. (Absent, orphan and
    lower-case tickers are in RawData.sample, which every run checks.)"""
    order = np.random.default_rng([seed, 3]).permutation(len(tickers))
    weights = 1.0 / np.arange(1, len(tickers) + 1) ** 1.1
    rng = np.random.default_rng([seed, 4, user])
    picks = order[rng.choice(len(tickers), size=n, p=weights / weights.sum())]
    return [tickers[i] for i in picks]


def raw_key(seed: int, n_tickers: int) -> str:
    return f"raw{n_tickers}-{seed}"


def star_key(sf: float) -> str:
    return f"sf{sf:g}-42"


# Input size per workload: tickers for serve and refresh, the scale
# factor for headline. TINY is the self-tests' smoke size.
SIZES = {"serve": 20_000, "refresh": 100_000, "headline": 0.25}
TINY = {"serve": 500, "refresh": 500, "headline": 0.01}


def input_dir(cache_root: str, workload: str, seed: int, size) -> str:
    key = star_key(size) if workload == "headline" else raw_key(seed, size)
    return os.path.join(cache_root, key)


def prepare(cache_root: str, workload: str, seed: int, size) -> None:
    """Build (or find) the cached inputs of ``workload``; run in a child
    process so that generation never counts in the run's memory peak."""
    key = os.path.basename(input_dir(cache_root, workload, seed, size))
    if workload == "headline":
        cached(cache_root, key, lambda d: write_star(d, size))
    else:
        cached(cache_root, key, lambda d: write_raw(d, seed, size))


_CACHE_KEEP = 3


def cached(cache_root: str, key: str, build) -> str:
    """Directory ``cache_root/key``, built by ``build(dir)`` on first use.

    A build goes to a temporary sibling and is renamed into place, so an
    interrupted build never leaves a half-written entry. At most _CACHE_KEEP
    entries with the same prefix (text before the last ``-``) are kept,
    so a sweep over many seeds does not fill the disk."""
    path = os.path.join(cache_root, key)
    if os.path.isdir(path):
        os.utime(path)
        return path
    os.makedirs(cache_root, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.rename(tmp, path)
    prefix = key.rsplit("-", 1)[0] + "-"
    same = sorted(
        (e for e in os.listdir(cache_root) if e.startswith(prefix) and ".tmp" not in e),
        key=lambda e: os.path.getmtime(os.path.join(cache_root, e)),
    )
    for old in same[:-_CACHE_KEEP]:
        shutil.rmtree(os.path.join(cache_root, old), ignore_errors=True)
    return path
