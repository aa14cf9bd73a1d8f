"""Known-answer tests for the dashboard query layer (plans/dashboard.py)
against the reference Frontend.py semantics (SURVEY.md §5.2)."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.cleaning import (
    run_transform,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.dashboard import (
    INDUSTRY_AVG_COLS,
    company_header,
    company_price_series,
    comparison_table,
    industry_averages,
    industry_metric_rollup,
    industry_month_rollup,
    industry_price_series,
    point_lookup,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import read_table
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.sinks import (
    write_parquet_overwrite,
)
from tests.fixtures import raw_financials, raw_info, raw_stock

SERVING_TABLES = ("company_info", "financial_statements", "ratios", "stock_price")


@pytest.fixture(scope="module")
def serving(spark):
    return run_transform(raw_info(spark), raw_stock(spark), raw_financials(spark))


def test_point_lookup_case_insensitive(serving):
    rows = point_lookup(serving["company_info"], "aaa").collect()
    assert len(rows) == 1 and rows[0]["ticker"] == "AAA"
    # queried ticker absent everywhere → empty result, no error
    assert point_lookup(serving["company_info"], "ZZZ").count() == 0


def test_company_header_single_row(serving):
    row = company_header(serving["company_info"], "AAA").collect()
    assert len(row) == 1
    assert row[0]["company_nm"] == "Alpha Inc"


def test_industry_averages_null_skipping(serving):
    out = industry_averages(
        serving["company_info"],
        serving["financial_statements"],
        serving["ratios"],
        "aaa",
    ).collect()
    assert len(out) == 1
    row = out[0]
    assert row["industry"] == "Tech"
    assert set(INDUSTRY_AVG_COLS) <= set(out[0].asDict())
    # Tech = AAA (1 row) + BBB (2 tied latest-quarter rows, which fan
    # out to 4 via the ratios join — the reference's pandas merges
    # duplicate identically) + DDD (no financials → nulls skipped):
    # AVG(ebitda) over {45, 80, 80, 81, 81}
    assert row["ebitda"] == pytest.approx((45 + 80 + 80 + 81 + 81) / 5)
    # trailing_pe from ratios: {15, 22×4, 9} (DDD has pe 9)
    assert row["trailing_pe"] == pytest.approx((15 + 22 * 4 + 9) / 6)


def test_single_ticker_industry(serving):
    out = industry_averages(
        serving["company_info"],
        serving["financial_statements"],
        serving["ratios"],
        "CCC",
    ).collect()
    assert len(out) == 1
    assert out[0]["ebitda"] == pytest.approx(0.0)  # AVG over one row
    assert out[0]["ev_to_ebitda"] is None  # NULL input → NULL avg


def test_industry_price_series_chronological(serving):
    out = industry_price_series(
        serving["company_info"], serving["stock_price"], "AAA"
    ).collect()
    months = [r["month"] for r in out]
    # DDD (Tech, no stock rows) contributes a NULL-month group through
    # the left join — same as the reference's SQL; NULLS FIRST in Spark
    non_null = [m for m in months if m is not None]
    assert non_null == sorted(non_null)  # string sort == chronological
    # Tech prices = AAA and BBB series (DDD absent from stock_price)
    first = next(r for r in out if r["month"] == "2023-11")
    assert first["avg_closing_price"] == pytest.approx((10.5 + 20.5) / 2)
    assert first["month_display"] == "Nov 2023"


def test_company_price_series_display_format(serving):
    out = company_price_series(serving["stock_price"], "eee").collect()
    assert [r["month_display"] for r in out] == ["Nov 2023", "Feb 2024"]


def test_comparison_table_long_form(serving):
    out = comparison_table(
        serving["company_info"],
        serving["financial_statements"],
        serving["ratios"],
        "AAA",
    )
    rows = out.collect()
    labels = {r["label"] for r in rows}
    assert labels == {"AAA", "Industry Average"}
    # long form: one row per (label, metric)
    metrics = {r["metric"] for r in rows}
    assert set(INDUSTRY_AVG_COLS) <= metrics
    by_key = {(r["label"], r["metric"]): r["value"] for r in rows}
    assert by_key[("AAA", "ebitda")] == pytest.approx(45.0)
    assert by_key[("Industry Average", "ebitda")] == pytest.approx(
        (45 + 80 + 80 + 81 + 81) / 5
    )


# ---------------------------------------------------------------- serving
# The industry results read rollups held in Spark's cache. These tests
# serve from parquet tables under tmp_path, the way a served dashboard
# reads the tables its refresh path wrote.


def _write_serving(tables: dict, d: str) -> None:
    for name in SERVING_TABLES:
        write_parquet_overwrite(tables[name], os.path.join(d, f"{name}.parquet"))


def _read_serving(spark, d: str) -> dict:
    return {name: read_table(spark, d, name) for name in SERVING_TABLES}


def _industry_results(t: dict, ticker: str) -> dict:
    """The industry results of one interaction. A tied latest quarter
    (BBB) may put either tied row in the company half of the comparison
    table (limit(1)), so that half is compared by its metric names."""
    ci, fs, ra, sp = (t[n] for n in SERVING_TABLES)
    comparison = comparison_table(ci, fs, ra, ticker).collect()
    return {
        "averages": [r.asDict() for r in industry_averages(ci, fs, ra, ticker).collect()],
        "series": [r.asDict() for r in industry_price_series(ci, sp, ticker).collect()],
        "comparison_industry": sorted(
            (r["metric"], r["value"]) for r in comparison if r["label"] == "Industry Average"
        ),
        "comparison_company": sorted(
            r["metric"] for r in comparison if r["label"] != "Industry Average"
        ),
    }


def _is_cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_industry_results_follow_overwrites(spark, serving, tmp_path):
    """Overwriting a serving table through the sink refreshes the cached
    rollups: the next requests see the new values, and the rollup over a
    re-read of the same paths is the same cache entry, not a second one."""
    d = str(tmp_path)
    _write_serving(serving, d)
    t = _read_serving(spark, d)
    before = _industry_results(t, "AAA")
    assert _is_cached(industry_metric_rollup(t["company_info"], t["financial_statements"], t["ratios"]))
    assert _is_cached(industry_month_rollup(t["company_info"], t["stock_price"]))
    tech_ebitda = (45 + 80 + 80 + 81 + 81) / 5
    assert before["averages"][0]["ebitda"] == pytest.approx(tech_ebitda)

    write_parquet_overwrite(
        serving["financial_statements"].withColumn("ebitda", F.col("ebitda") * 2),
        os.path.join(d, "financial_statements.parquet"),
    )
    write_parquet_overwrite(
        serving["stock_price"].withColumn("closing_price", F.col("closing_price") + 100),
        os.path.join(d, "stock_price.parquet"),
    )
    t = _read_serving(spark, d)
    # checked before any request could persist a new entry
    assert _is_cached(industry_metric_rollup(t["company_info"], t["financial_statements"], t["ratios"]))
    assert _is_cached(industry_month_rollup(t["company_info"], t["stock_price"]))

    after = _industry_results(t, "AAA")
    assert after["averages"][0]["ebitda"] == pytest.approx(2 * tech_ebitda)
    assert after["averages"][0]["trailing_pe"] == pytest.approx(
        before["averages"][0]["trailing_pe"]
    )
    assert [r["month"] for r in after["series"]] == [r["month"] for r in before["series"]]
    for old, new in zip(before["series"], after["series"]):
        if old["avg_closing_price"] is None:
            assert new["avg_closing_price"] is None
        else:
            assert new["avg_closing_price"] == pytest.approx(old["avg_closing_price"] + 100)
    assert dict(after["comparison_industry"])["ebitda"] == pytest.approx(2 * tech_ebitda)


def test_concurrent_cold_requests_match_single_threaded(spark, tmp_path):
    """Four users hit a cold cache at once: a ticker of the largest
    industry, a ticker whose industry is NULL, an absent ticker and BBB
    (tied latest quarter). Each gets the single-threaded answer, and the
    NULL-industry and absent tickers get no industry rows (NULL matches
    no industry, not even the NULL-industry group of the rollups)."""
    info = raw_info(spark)
    stock = raw_stock(spark)
    fin = raw_financials(spark)
    info = info.union(spark.createDataFrame(
        [("NUL", "Nil Co", "n.com", None, "nil co", "10", "100", "3.0",
          "1", "2", None, "5", "0.3", "0.01", "0.02", "x", "y")],
        info.schema,
    ))
    stock = stock.union(spark.createDataFrame(
        [("2023-11", "NUL", 3.0, 3.1, 3.2, 2.9, 1e4, 0.0, 0.0)], stock.schema
    ))
    fin = fin.union(spark.createDataFrame(
        [("2024-03", "NUL", 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 1.0)], fin.schema
    ))
    d = str(tmp_path)
    _write_serving(run_transform(info, stock, fin), d)
    t = _read_serving(spark, d)
    assert not _is_cached(industry_metric_rollup(t["company_info"], t["financial_statements"], t["ratios"]))
    assert not _is_cached(industry_month_rollup(t["company_info"], t["stock_price"]))

    tickers = ["AAA", "NUL", "ZZZ", "bbb"]
    got: dict[str, dict] = {}
    errors: list[Exception] = []
    start = threading.Barrier(len(tickers), timeout=120)

    def user(ticker: str) -> None:
        try:
            start.wait()
            got[ticker] = _industry_results(t, ticker)
        except Exception as exc:  # surfaced by the main thread
            errors.append(exc)

    threads = [threading.Thread(target=user, args=(tk,)) for tk in tickers]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
        assert not th.is_alive()
    assert not errors, errors

    for ticker in tickers:
        assert got[ticker] == _industry_results(t, ticker), ticker
    for ticker in ("NUL", "ZZZ"):
        assert got[ticker]["averages"] == []
        assert got[ticker]["series"] == []
        assert got[ticker]["comparison_industry"] == []
    assert got["NUL"]["comparison_company"]  # its own row is still served
    assert got["ZZZ"]["comparison_company"] == []
    assert got["AAA"]["averages"][0]["industry"] == "Tech"
    assert got["bbb"]["averages"] == got["AAA"]["averages"]
