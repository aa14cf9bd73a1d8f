"""The reference's six dashboard queries (Frontend.py:28-97) as Spark
plans over the curated serving tables (SURVEY.md §3 entry point 3).

The reference round-trips to Postgres per query and post-processes in
pandas (positional join, index relabel, transpose). Here the pandas
reshape becomes label columns + unpivot, and the work splits by what a
result depends on:

- Point lookups (header, statements, ratios, company price series)
  filter the serving tables by ticker on every request.
- The two industry results depend on the ticker only through its
  industry. Their aggregates over whole tables are computed once, for
  every industry, as a single-partition rollup held in Spark's own
  cache (CacheManager). A request joins the rollup to the ticker's
  broadcast industry row and projects, sorts and labels the result, so
  its work is bounded by industries × months, not by table size.

CacheManager is the only registry: a rollup plan is persisted when
``storageLevel`` shows it is not cached yet, and a later plan over the
same serving tables (a re-read of the same paths included) matches the
cached entry. Overwrites written through Spark refresh the entry
(``recacheByPath``); a writer outside Spark needs
``spark.catalog.refreshByPath`` on the rewritten path.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_etl_pipeline_financial_streamlit_dashboard_spark.functions.scalars import (
    month_display,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.core import (
    union_align,
    unpivot_metrics,
    with_label_column,
)

# The 12 AVG metrics of the industry-comparison query (Frontend.py:60-69).
INDUSTRY_AVG_COLS = [
    "cash_and_cash_equivalents",
    "ebitda",
    "net_income",
    "net_debt",
    "current_ratio",
    "free_cash_flow",
    "operating_cash_flow",
    "debt_to_equity",
    "return_on_assets",
    "return_on_equity",
    "ev_to_ebitda",
    "trailing_pe",
]

STATEMENT_METRICS = [
    "cash_and_cash_equivalents",
    "ebitda",
    "net_income",
    "net_debt",
    "current_ratio",
]

RATIO_METRICS = [
    "free_cash_flow",
    "operating_cash_flow",
    "debt_to_equity",
    "return_on_assets",
    "return_on_equity",
    "ev_to_ebitda",
    "trailing_pe",
]


def _upper(ticker: str) -> str:
    # case-insensitive ticker contract (Frontend.py:23, retrieval.py:78)
    return ticker.upper()


def point_lookup(table: DataFrame, ticker: str) -> DataFrame:
    """P4: ``SELECT * FROM <t> WHERE ticker = ?`` (Frontend.py:28-55)."""
    return table.filter(F.col("ticker") == _upper(ticker))


def company_header(company_info: DataFrame, ticker: str) -> DataFrame:
    """P6: the one-row company header (Frontend.py:28-37)."""
    return point_lookup(company_info, ticker).select(
        "ticker", "company_nm", "website", "industry", "company_info"
    ).limit(1)


def _cached(rollup: DataFrame) -> DataFrame:
    """Hold ``rollup`` in Spark's cache, persisting it only if no cached
    entry matches its plan yet."""
    if rollup.storageLevel == StorageLevel.NONE:
        rollup.persist()
    return rollup


def industry_metric_rollup(
    company_info: DataFrame, financial_statements: DataFrame, ratios: DataFrame
) -> DataFrame:
    """The 12 industry AVGs over the 3-way left-join chain
    (Frontend.py:60-69) for every industry at once, in one partition.
    Only the plan: the industry results persist it on first use."""
    joined = company_info.select("ticker", "industry").join(
        financial_statements, "ticker", "left"
    ).join(ratios.drop("current_ratio"), "ticker", "left")
    return (
        joined.groupBy("industry")
        .agg(*[F.avg(c).alias(c) for c in INDUSTRY_AVG_COLS])
        .coalesce(1)
    )


def industry_month_rollup(company_info: DataFrame, stock_price: DataFrame) -> DataFrame:
    """Average closing price per (industry, month) over
    company_info ⟕ stock_price (Frontend.py:71-79), in one partition.
    Only the plan: the industry results persist it on first use."""
    return (
        company_info.select("ticker", "industry")
        .join(stock_price, "ticker", "left")
        .groupBy("industry", "month")
        .agg(F.avg("closing_price").alias("avg_closing_price"))
        .coalesce(1)
    )


def _of_ticker_industry(rollup: DataFrame, company_info: DataFrame, ticker: str) -> DataFrame:
    """The rollup rows of the ticker's industry: the data-dependent
    industry lookup (Frontend.py:28-32 → 67) folded in as a join with
    the broadcast target row instead of a second client round-trip. A
    NULL or absent industry matches no row."""
    target_industry = (
        company_info.filter(F.col("ticker") == _upper(ticker))
        .select(F.col("industry").alias("__target_industry"))
        .limit(1)
    )
    return rollup.join(
        F.broadcast(target_industry),
        rollup.industry == F.col("__target_industry"),
        "inner",
    ).drop("__target_industry")


def industry_averages(
    company_info: DataFrame,
    financial_statements: DataFrame,
    ratios: DataFrame,
    ticker: str,
) -> DataFrame:
    """The 12-AVG industry aggregate of the ticker's industry
    (Frontend.py:60-69), read from the cached industry metric rollup."""
    rollup = _cached(industry_metric_rollup(company_info, financial_statements, ratios))
    return _of_ticker_industry(rollup, company_info, ticker)


def industry_price_series(
    company_info: DataFrame, stock_price: DataFrame, ticker: str
) -> DataFrame:
    """Industry monthly average closing price, chronologically ordered by
    the 'YYYY-MM' string key (Frontend.py:71-79 + the display format at
    Frontend.py:81-82), read from the cached industry month rollup. The
    rollup's single partition lets the sort run without an exchange."""
    rollup = _cached(industry_month_rollup(company_info, stock_price))
    return (
        _of_ticker_industry(rollup, company_info, ticker)
        .select("month", "avg_closing_price")
        .orderBy("month")
        .withColumn("month_display", month_display(F.col("month")))
    )


def company_price_series(stock_price: DataFrame, ticker: str) -> DataFrame:
    """Company monthly price series (Frontend.py:51-58)."""
    return (
        point_lookup(stock_price, ticker)
        .orderBy("month")
        .withColumn("month_display", month_display(F.col("month")))
    )


def comparison_table(
    company_info: DataFrame,
    financial_statements: DataFrame,
    ratios: DataFrame,
    ticker: str,
) -> DataFrame:
    """Company-vs-industry-average long table (Frontend.py:84-97).

    The reference's pandas choreography — positional join (J7), index
    relabel (R4), union-align (U2), transpose ×2 (R2) — re-expressed
    relationally: label column + unionByName + unpivot. Output is
    (label, metric, value): exactly the long form the reference's
    transposed frames feed to the bar charts."""
    t = _upper(ticker)
    company_row = (
        point_lookup(financial_statements, t)
        .join(point_lookup(ratios.drop("current_ratio"), t), "ticker", "left")
        .limit(1)
    )
    company_labeled = with_label_column(company_row.drop("ticker"), t, "label")
    industry_avg = industry_averages(
        company_info, financial_statements, ratios, t
    ).drop("industry")
    industry_labeled = with_label_column(industry_avg, "Industry Average", "label")
    both = union_align(company_labeled, industry_labeled)
    metrics = [c for c in both.columns if c != "label"]
    return unpivot_metrics(both, ["label"], metrics)
