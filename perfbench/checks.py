"""Output checks against DuckDB, run untimed on the same parquet files.

* ``serve``: the benchmark's own SQL for the six dashboard results,
  evaluated in bulk for every ticker the users asked for.
* ``refresh``: the reference's transform (cleaning.py) written as DuckDB
  SQL over the raw extracts, compared with what the program wrote by row
  count and an order-insensitive hash of the rounded values.
* ``headline``: each catalog entry's own ``oracle`` SQL, compared with the
  value normalization of the verify skill's run_verify.py.
"""

from __future__ import annotations

import math
import os

import duckdb

# The 12 averaged metrics and the comparison-table column order of
# plans/dashboard.py, restated here so the check does not trust the
# program's own constants.
AVG_COLS = [
    "cash_and_cash_equivalents", "ebitda", "net_income", "net_debt",
    "current_ratio", "free_cash_flow", "operating_cash_flow",
    "debt_to_equity", "return_on_assets", "return_on_equity",
    "ev_to_ebitda", "trailing_pe",
]
FS_COLS = [
    "cash_and_cash_equivalents", "ebitda", "net_income", "net_debt",
    "total_debt", "current_assets", "current_liabilities", "current_ratio",
]
RATIO_COLS = [
    "outstanding_shares", "latest_closing_price", "free_cash_flow",
    "operating_cash_flow", "dividend_yield", "trailing_pe", "debt_to_equity",
    "return_on_assets", "return_on_equity", "market_cap", "ev_to_ebitda",
]

# cleaning.py as DuckDB SQL over views info / stock / financials.
SERVING_SQL = {
    "company_info": """
        SELECT ticker, shortName AS company_nm, website, industry,
               longBusinessSummary AS company_info,
               CAST(fullTimeEmployees AS DOUBLE) AS full_time_employees
        FROM info""",
    "stock_price": """
        SELECT ticker, month, CAST("Open" AS DOUBLE) AS opening_price,
               CAST("Close" AS DOUBLE) AS closing_price,
               CAST("High" AS DOUBLE) AS month_high,
               CAST("Low" AS DOUBLE) AS month_low
        FROM stock""",
    "financial_statements": """
        SELECT * EXCLUDE (month, rk) FROM (
            SELECT ticker, month,
                   "Cash And Cash Equivalents" AS cash_and_cash_equivalents,
                   "EBITDA" AS ebitda, "Net Income" AS net_income,
                   "Net Debt" AS net_debt, "Total Debt" AS total_debt,
                   "Current Assets" AS current_assets,
                   "Current Liabilities" AS current_liabilities,
                   "Current Assets" / NULLIF("Current Liabilities", 0) AS current_ratio,
                   rank() OVER (PARTITION BY ticker ORDER BY month DESC) AS rk
            FROM financials)
        WHERE rk = 1""",
    "ratios": """
        WITH r AS (
            SELECT ticker,
                   CAST(sharesOutstanding AS DOUBLE) AS outstanding_shares,
                   CAST(previousClose AS DOUBLE) AS latest_closing_price,
                   CAST(freeCashflow AS DOUBLE) AS free_cash_flow,
                   CAST(operatingCashflow AS DOUBLE) AS operating_cash_flow,
                   CAST(dividendYield AS DOUBLE) AS dividend_yield,
                   CAST(trailingPE AS DOUBLE) AS trailing_pe,
                   CAST(debtToEquity AS DOUBLE) AS debt_to_equity,
                   CAST(returnOnAssets AS DOUBLE) AS return_on_assets,
                   CAST(returnOnEquity AS DOUBLE) AS return_on_equity
            FROM info),
        r2 AS (SELECT *, outstanding_shares * latest_closing_price AS market_cap FROM r),
        fs AS (""" + "{fs}" + """),
        t AS (
            SELECT fs.ticker, fs.current_ratio,
                   (r2.market_cap + fs.total_debt - fs.cash_and_cash_equivalents)
                       / NULLIF(fs.ebitda, 0) AS ev_to_ebitda
            FROM fs JOIN r2 ON fs.ticker = r2.ticker)
        SELECT r2.*, t.current_ratio, t.ev_to_ebitda
        FROM r2 LEFT JOIN t ON r2.ticker = t.ticker""",
}
SERVING_SQL["ratios"] = SERVING_SQL["ratios"].replace(
    "{fs}", SERVING_SQL["financial_statements"]
)


def _view(con, name: str, path: str) -> None:
    """View over a parquet file or over a directory of Spark part files."""
    glob = f"{path}/*.parquet" if os.path.isdir(path) else path
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")


def _fingerprint(con, sql: str) -> tuple:
    """(column names and types, row count, order-insensitive value hash);
    doubles are rounded to 6 decimals so a last-bit difference between
    engines cannot flip the hash."""
    cols = con.execute(f"DESCRIBE {sql}").fetchall()
    exprs = [
        f"ROUND({_q(c[0])}, 6)" if c[1] in ("DOUBLE", "FLOAT") else _q(c[0]) for c in cols
    ]
    n, h = con.execute(
        f"SELECT count(*), sum(hash({', '.join(exprs)})) FROM ({sql})"
    ).fetchone()
    return sorted((c[0], c[1]) for c in cols), n, h


def _q(ident: str) -> str:
    return '"' + ident.replace('"', '""') + '"'


def refresh_matches(raw, out_dir: str) -> dict[str, bool]:
    """Per serving table: does the program's output equal cleaning.py?"""
    con = duckdb.connect()
    try:
        _view(con, "info", raw.info)
        _view(con, "stock", raw.stock)
        _view(con, "financials", raw.financials)
        result = {}
        for name, sql in SERVING_SQL.items():
            _view(con, f"out_{name}", f"{out_dir}/{name}.parquet")
            got = _fingerprint(con, f"SELECT * FROM out_{name}")
            want = _fingerprint(con, sql)
            result[name] = got == want
        return result
    finally:
        con.close()


# ---------------------------------------------------------------- serve


def norm(v):
    """None for SQL NULL and pandas NaN; plain Python scalars otherwise."""
    if v is None:
        return None
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def same(a, b) -> bool:
    a, b = norm(a), norm(b)
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def rows_equal(got: list[dict], want: list[dict], ordered: bool) -> bool:
    if len(got) != len(want):
        return False
    if ordered:
        return all(
            g.keys() == w.keys() and all(same(g[k], w[k]) for k in w)
            for g, w in zip(got, want)
        )
    unused = list(got)
    for w in want:
        hit = next(
            (i for i, g in enumerate(unused)
             if g.keys() == w.keys() and all(same(g[k], w[k]) for k in w)),
            None,
        )
        if hit is None:
            return False
        unused.pop(hit)
    return True


class ServeOracle:
    """Expected dashboard results, computed in bulk by DuckDB over the
    serving tables the program wrote."""

    def __init__(self, serving_dir: str, tickers: set[str]):
        con = duckdb.connect()
        try:
            for t in ("company_info", "financial_statements", "ratios", "stock_price"):
                _view(con, t, f"{serving_dir}/{t}.parquet")
            con.execute("CREATE TEMP TABLE asked(ticker VARCHAR)")
            con.executemany("INSERT INTO asked VALUES (?)", [[t.upper()] for t in tickers])

            def fetch(sql: str) -> list[dict]:
                cur = con.execute(sql)
                names = [d[0] for d in cur.description]
                return [dict(zip(names, r)) for r in cur.fetchall()]

            def by_ticker(rows: list[dict]) -> dict[str, list[dict]]:
                out: dict[str, list[dict]] = {}
                for r in rows:
                    out.setdefault(r.pop("__t"), []).append(r)
                return out

            sel = "SELECT t.*, t.ticker AS __t FROM {} t SEMI JOIN asked USING (ticker)"
            self.header = by_ticker(fetch(
                "SELECT ticker, company_nm, website, industry, company_info, ticker AS __t"
                " FROM company_info SEMI JOIN asked USING (ticker)"))
            self.fs = by_ticker(fetch(sel.format("financial_statements")))
            self.ratios = by_ticker(fetch(sel.format("ratios")))
            self.prices = by_ticker(fetch(
                "SELECT s.*, strftime(strptime(month, '%Y-%m'), '%b %Y') AS month_display,"
                " ticker AS __t FROM stock_price s SEMI JOIN asked USING (ticker)"
                " ORDER BY ticker, month"))
            self.industry_of = {
                r["ticker"]: r["industry"]
                for rows in self.header.values() for r in rows
            }
            self.industry_series: dict[str, list[dict]] = {}
            for r in fetch(
                "SELECT c.industry AS __t, s.month, avg(s.closing_price) AS avg_closing_price,"
                " strftime(strptime(s.month, '%Y-%m'), '%b %Y') AS month_display"
                " FROM company_info c LEFT JOIN stock_price s USING (ticker)"
                " WHERE c.industry IN (SELECT industry FROM company_info SEMI JOIN asked USING (ticker))"
                " GROUP BY c.industry, s.month"
            ):
                self.industry_series.setdefault(r.pop("__t"), []).append(r)
            for rows in self.industry_series.values():
                rows.sort(key=lambda r: (r["month"] is not None, r["month"] or ""))
            avgs = ", ".join(f"avg({c}) AS {c}" for c in AVG_COLS)
            self.industry_avg = {
                r.pop("__t"): r
                for r in fetch(
                    f"SELECT c.industry AS __t, {avgs} FROM company_info c"
                    " LEFT JOIN financial_statements f USING (ticker)"
                    " LEFT JOIN (SELECT * EXCLUDE (current_ratio) FROM ratios) r USING (ticker)"
                    " WHERE c.industry IN (SELECT industry FROM company_info SEMI JOIN asked USING (ticker))"
                    " GROUP BY c.industry"
                )
            }
        finally:
            con.close()

    def check(self, ticker: str, out: dict[str, list[dict]]) -> bool:
        """Do the six results of one interaction for ``ticker`` match?"""
        t = ticker.upper()
        industry = self.industry_of.get(t)
        expected_series = self.industry_series.get(industry, []) if industry else []
        return (
            _header_ok(out["company_header"], self.header.get(t, []))
            and rows_equal(out["financial_statements"], self.fs.get(t, []), ordered=False)
            and rows_equal(out["ratios"], self.ratios.get(t, []), ordered=False)
            and rows_equal(out["company_price_series"], self.prices.get(t, []), ordered=True)
            and rows_equal(out["industry_price_series"], expected_series, ordered=True)
            and self._comparison_ok(t, industry, out["comparison_table"])
        )

    def _comparison_ok(self, t: str, industry, rows: list[dict]) -> bool:
        metrics = FS_COLS + RATIO_COLS
        got: dict[str, dict[str, object]] = {}
        for r in rows:
            got.setdefault(r["label"], {})[r["metric"]] = r["value"]
        want_labels = set()
        # company row: limit(1) over fs x ratios; with a tied latest quarter
        # any of the joined candidates is a correct answer
        candidates = [
            {**f, **{k: v for k, v in r.items() if k != "current_ratio"}}
            for f in self.fs.get(t, [])
            for r in (self.ratios.get(t) or [{}])
        ]
        if candidates:
            want_labels.add(t)
            company = got.get(t, {})
            if set(company) != set(metrics) or not any(
                all(same(company[m], c.get(m)) for m in metrics) for c in candidates
            ):
                return False
        if industry is not None and industry in self.industry_avg:
            want_labels.add("Industry Average")
            avg = self.industry_avg[industry]
            ind = got.get("Industry Average", {})
            if set(ind) != set(metrics) or not all(
                same(ind[m], avg.get(m)) for m in metrics
            ):
                return False
        return set(got) == want_labels


def _header_ok(got: list[dict], want: list[dict]) -> bool:
    if not want:
        return not got
    return len(got) == 1 and any(rows_equal(got, [w], ordered=True) for w in want)


# ------------------------------------------------------------- headline


def _norm9(v):
    # run_verify.py's normalization: floats rounded to 9 decimals
    v = norm(v)
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm9(x) for x in v)
    return v


def frame_key(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm9(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [tuple(sorted(cols))] + out


def oracle_keys(sf_dir: str, oracles: dict[str, str]) -> dict[str, list[tuple]]:
    """The normalized DuckDB result of each catalog entry's oracle SQL."""
    con = duckdb.connect()
    try:
        for f in os.listdir(sf_dir):
            if f.endswith(".parquet"):
                _view(con, f[: -len(".parquet")], os.path.join(sf_dir, f))
        out = {}
        for name, sql in oracles.items():
            cur = con.execute(sql)
            out[name] = frame_key([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()
