"""Physical-plan regression tests: the optimizations the engine relies
on at 100 TB must be visible in the executed plan, not assumed.

Each assertion pins a property that silently regressing would only show
up as a production slowdown: parquet filter pushdown, column pruning at
the scan, broadcast joins for dims, whole-stage codegen coverage, and
shuffle counts for the canonical query shapes.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans import dashboard
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.catalog import QUERIES
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.cleaning import run_transform
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import read_table
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.sinks import (
    write_parquet_overwrite,
)
from tests.fixtures import raw_financials, raw_info, raw_stock


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    df = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    plan = _formatted(df)
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)" in plan


def test_column_pruning_reaches_parquet(spark, sf_dir):
    df = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _formatted(df)
    # scan must read exactly the two projected columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_flagship_broadcasts_dim_and_bounds_shuffles(spark, sf_dir):
    df = QUERIES["q07_flagship_industry_avg"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan  # nation dim never shuffles
    # two aggregation shuffles (order stats, final group-by) + at most
    # one join exchange — more means a regression added a shuffle
    assert plan.count("Exchange hashpartitioning") <= 3


def test_star_join_shape(spark, sf_dir):
    """q16's star join: the one fact-fact join (lineitem⋈orders) is a
    shuffled HASH join — never sort-merge (the sort buys nothing: the
    downstream aggregate groups on different keys) and never a
    broadcast of orders (impossible at real scale, and 2× slower even
    locally). Every dimension joins as a broadcast. Exchanges: the two
    fact sides plus the final aggregation — no more."""
    df = QUERIES["q16_star_join_revenue"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 3  # customer, nation, region
    assert plan.count("Exchange hashpartitioning") == 3


def test_pricing_summary_whole_stage_codegen(spark, sf_dir):
    """The q17 scan→filter→partial-agg pipeline must fuse into
    whole-stage codegen (no Python, no interpreted eval in the hot
    path). AQE finalizes the plan lazily, so execute first."""
    df = QUERIES["q17_pricing_summary"].spark(spark, sf_dir)
    df.collect()  # finalize AQE on THIS query execution (count() builds its own)
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # '*(n)' prefixes mark whole-stage-codegen'd operators
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_point_filter_no_shuffle(spark, sf_dir):
    """Dashboard point lookups (P4) must be scan+filter only."""
    df = QUERIES["q02_point_filter"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan


def test_dedup_exact_is_single_shuffle(spark, sf_dir):
    df = QUERIES["x01_dedup_exact"].spark(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 1


def test_partition_pruning_on_partitioned_sink(spark, sf_dir, tmp_path):
    """Serving tables written partitionBy(month): a month filter must
    prune partitions at planning time (PartitionFilters, one dir read)
    — the scale replacement for the reference's whole-table re-reads."""
    out = str(tmp_path / "sp_by_month")
    orders = read_table(spark, sf_dir, "orders").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    orders.write.mode("overwrite").partitionBy("month").parquet(out)

    df = spark.read.parquet(out).filter(F.col("month") == "1995-03")
    plan = _formatted(df)
    assert "PartitionFilters: [isnotnull(month" in plan
    # the pushed month equality prunes to a single partition dir
    # (attribute ids vary: "(month#N = 1995-03)")
    assert "= 1995-03)" in plan


def test_bucketed_star_join_fact_side_shuffle_free(spark, sf_dir):
    """q34: the lineitem⋈orders sort-merge must read co-located buckets
    with NO exchange on either fact side; the only hash exchange left
    is the final rollup."""
    df = QUERIES["q34_star_join_bucketed"].spark(spark, sf_dir)
    df.collect()  # AQE finalizes lazily; inspect the final plan
    # the AQE plan string appends the pre-adaptive "== Initial Plan =="
    # section — count exchanges only in the executed final section
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in plan
    assert "SelectedBucketsCount: 8 out of 8" in plan
    # exactly one hash exchange in the whole query: the group-by rollup
    assert plan.count("Exchange hashpartitioning") == 1


def test_ohlc_single_mergeable_shuffle(spark, sf_dir):
    """q55's candlestick bars: ONE partial-aggregating shuffle, no
    window — struct extremes are mergeable aggregate state, so the
    plan must NOT contain the oracle's row_number shape (which buffers
    whole partitions). Struct buffers aren't hash-aggregable, so Spark
    picks SortAggregate — the sort is per-partition map-side and the
    exchange still carries only group states (partial_min/max visible
    below it)."""
    df = QUERIES["q55_ohlc_candles"].spark(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    below_exchange = plan[plan.index("Exchange hashpartitioning"):]
    assert "partial_min(struct" in below_exchange


def test_drawdown_single_window_shuffle(spark, sf_dir):
    """q52: ONE exchange keyed user_id serves both the running-peak
    window and the per-account aggregate (same key → partitioning
    reused, no second shuffle)."""
    df = QUERIES["q52_max_drawdown"].spark(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_returns_window_partitioning_reuse(spark, sf_dir):
    """q57: the per-symbol lag window and the (symbol, month) aggregate
    need at most two exchanges; the window must use a ROWS running
    frame, not a re-sorted buffer per group."""
    df = QUERIES["q57_returns_volatility"].spark(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 2


def test_q16_eager_agg_below_fact_join(spark, sf_dir):
    """q16's revenue rollup happens BELOW the lineitem⋈orders join
    (eager aggregation): a HashAggregate must appear on the lineitem
    side before the ShuffledHashJoin, and the join's probe side is the
    pre-aggregated (orderkey, hi, lo, count) stream — visible as the
    aggregate's partial/final pair both upstream of the join."""
    df = QUERIES["q16_star_join_revenue"].spark(spark, sf_dir)
    plan = _plan(df)
    shj = plan.index("ShuffledHashJoin")
    # the per-orderkey rollup (keyed on l_orderkey) appears below the join
    below = plan[shj:]
    assert "HashAggregate(keys=[l_orderkey" in below


def test_ntile_no_single_partition_exchange(spark, sf_dir):
    """q59's global quartiles must never collapse the TABLE onto one
    task: no engine ntile window (which plans Exchange SinglePartition
    over the whole input) — the data flows through a range exchange.
    The one single-partition exchange allowed is the |partitions|-row
    offsets side table (bounded by construction, the x42 pattern), so
    it must sit above the count aggregate, never above a file scan."""
    df = QUERIES["q59_ntile_quartiles"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "ntile(" not in plan  # engine NTILE never appears
    # (the range exchange itself is hidden behind the localCheckpoint's
    # ScanExistingRDD in the executed plan; global_rank's own unit
    # tests pin the enumeration)
    for frag in plan.split("Exchange SinglePartition")[1:]:
        # whatever feeds a single-partition exchange must already be
        # the tiny per-partition count aggregate, not raw data
        head = frag[:400]
        assert "count(1)" in head or "HashAggregate" in head


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: a month-partitioned fact joined to a
    dim whose FILTER only becomes known at runtime must plan a
    dynamicpruning subquery on the fact scan — at 100 TB this is the
    difference between scanning one partition and scanning the table
    when the pruning key arrives via a join rather than a literal."""
    out = str(tmp_path / "fact_by_month")
    orders = read_table(spark, sf_dir, "orders").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    orders.write.mode("overwrite").partitionBy("month").parquet(out)

    # a tiny dim mapping month → label, filtered on the label: the
    # month set reaching the fact is only known after the dim filter
    dim = (
        orders.select("month")
        .distinct()
        .withColumn("quarter", F.expr("substring(month, 6, 2) IN ('01','02','03')"))
    )
    fact = spark.read.parquet(out)
    joined = fact.join(dim.filter(F.col("quarter")), "month").groupBy("month").count()

    prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled")
    try:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", "true"
        )
        plan = _formatted(joined)
        assert "dynamicpruning" in plan.lower(), plan[:2000]
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", prev
        )


def test_q82_semi_join_with_residual(spark, sf_dir):
    """q82 (TPC-H Q4 shape): the EXISTS must execute as a LEFT SEMI
    join carrying the non-equi term as a residual — never a full join
    + distinct."""
    plan = _plan(QUERIES["q82_late_orders_by_priority"].spark(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "Distinct" not in plan


def test_q84_disjunction_factored_to_scans(spark, sf_dir):
    """q84 (TPC-H Q19 shape): the factored per-side hulls must reach
    the scans — part prunes on brand/size, lineitem on the quantity
    hull — even though the full disjunction spans both sides."""
    plan = _formatted(
        QUERIES["q84_disjunctive_promo_revenue"].spark(spark, sf_dir)
    )
    assert "PushedFilters" in plan
    # the part side must broadcast (three brands of a dim table)
    assert "BroadcastHashJoin" in plan


def test_q86_two_fact_exchanges(spark, sf_dir):
    """q86 (TPC-H Q21 shape): the de-correlated form must run on TWO
    orderkey-keyed fact exchanges (the lo stream and its per-order
    rollup) — the naive EXISTS/NOT EXISTS plan would self-join the
    fact table three times."""
    df = QUERIES["q86_sole_late_supplier"].spark(spark, sf_dir)
    plan = _plan(df)
    # TakeOrderedAndProject — distributed heap top-k, no global sort
    assert "TakeOrderedAndProject" in plan
    # lineitem appears in the plan exactly twice (lo + its rollup fork),
    # never a third self-join for the NOT EXISTS
    assert plan.count("lineitem") <= 2


# ------------------------------------------------------------ dashboard


def _nodes_outside_cache(df) -> list[tuple[str, list[str]]]:
    """(node, names of every node below it) for each node of df's
    executed plan, through AQE's stages but not into cached relations:
    an InMemoryTableScan is a leaf here, its cached plan is not walked."""
    out = []

    def walk(p) -> list[str]:
        if p.nodeName() == "AdaptiveSparkPlan":
            return walk(p.executedPlan())
        if p.getClass().getSimpleName().endswith("QueryStageExec"):
            return walk(p.plan())
        kids = p.children()
        below: list[str] = []
        for i in range(kids.size()):
            below += walk(kids.apply(i))
        name = p.simpleString(25)
        out.append((name, below))
        return [name] + below

    walk(df._jdf.queryExecution().executedPlan())
    return out


@pytest.fixture(scope="module")
def served_tables(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("dashboard_serving"))
    tables = run_transform(raw_info(spark), raw_stock(spark), raw_financials(spark))
    for name, df in tables.items():
        write_parquet_overwrite(df, os.path.join(d, f"{name}.parquet"))
    return {name: read_table(spark, d, name) for name in tables}


def _served_plan(df) -> list[tuple[str, list[str]]]:
    df.collect()  # AQE finalizes lazily; inspect the final plan
    return _nodes_outside_cache(df)


def test_industry_results_read_cached_rollups(served_tables):
    """After a first request, the industry results read their rollup
    through InMemoryTableScan, and no hash exchange is left outside the
    cached subtree: a request joins and aggregates no base table."""
    t = served_tables
    ci, fs, ra, sp = t["company_info"], t["financial_statements"], t["ratios"], t["stock_price"]
    dashboard.industry_price_series(ci, sp, "AAA").collect()
    dashboard.comparison_table(ci, fs, ra, "AAA").collect()
    for df in (
        dashboard.industry_price_series(ci, sp, "BBB"),
        dashboard.comparison_table(ci, fs, ra, "BBB"),
    ):
        names = [n for n, _ in _served_plan(df)]
        assert any(n.startswith("InMemoryTableScan") for n in names)
        assert not [n for n in names if n.startswith("Exchange hashpartitioning")]
        assert not [n for n in names if n.startswith("HashAggregate")]


def test_industry_price_series_sorts_without_exchange(served_tables):
    """The month sort runs over the single-partition rollup: outside the
    cached subtree, the only exchange below the Sort is the target row's
    limit inside the broadcast of the ticker's industry."""
    t = served_tables
    dashboard.industry_price_series(t["company_info"], t["stock_price"], "AAA").collect()
    df = dashboard.industry_price_series(t["company_info"], t["stock_price"], "CCC")
    nodes = _served_plan(df)
    in_broadcast = {m for n, below in nodes if n.startswith("BroadcastExchange") for m in below}
    sorts = [below for n, below in nodes if n.startswith("Sort ")]
    assert len(sorts) == 1
    assert any(n.startswith("InMemoryTableScan") for n in sorts[0])
    assert [n for n in sorts[0] if n.startswith("Exchange") and n not in in_broadcast] == []
