"""Round-5 boundary behaviors: NTZ enforcement at read_table, the
legacy nanos fallback's timezone invariance, read_jdbc argument
validation, the table-cache session bound, and the table cache's
invalidation by the overwrite sinks."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import (
    _TABLE_CACHE,
    _TABLE_CACHE_SESSIONS,
    read_jdbc,
    read_table,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.sinks import (
    upsert_partitions,
    write_parquet_overwrite,
)


def test_read_table_rejects_ltz_ts(spark, tmp_path):
    """A true TIMESTAMP(LTZ) ts column must raise — it would re-anchor
    to the session wall clock downstream and silently move day/month
    buckets under a shifted driver timezone."""
    d = str(tmp_path / "ltz")
    spark.range(1).selectExpr(
        "id AS event_id", "timestamp_micros(1000000) AS ts"
    ).write.parquet(os.path.join(d, "events.parquet"))
    os.makedirs(d, exist_ok=True)
    with pytest.raises(TypeError, match="TIMESTAMP_NTZ"):
        read_table(spark, d, "events")


def test_read_table_nanos_fallback_is_tz_invariant(spark, tmp_path):
    """The legacy nanos-long fallback must produce TIMESTAMP_NTZ whose
    wall clock is the naive-UTC reading under ANY session timezone
    (the timestamp_micros() it replaced produced LTZ, which shifted)."""
    d = str(tmp_path / "nanos")
    spark.range(3).selectExpr(
        "id AS event_id",
        "CAST(1000000000000000000 + id * 1000000000 AS BIGINT) AS ts",
    ).write.parquet(os.path.join(d, "events.parquet"))
    df = read_table(spark, d, "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        shifted = [str(r.ts) for r in df.orderBy("event_id").collect()]
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = [str(r.ts) for r in df.orderBy("event_id").collect()]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert shifted == utc == [
        "2001-09-09 01:46:40",
        "2001-09-09 01:46:41",
        "2001-09-09 01:46:42",
    ]


def test_read_jdbc_requires_bounds_with_partition_column(spark):
    """partition_column without bounds must fail AT THE CALL SITE with
    the missing argument names — not at runtime with an opaque
    number-parse error from 'lowerBound'='None'."""
    with pytest.raises(ValueError, match="lower_bound and upper_bound"):
        read_jdbc(
            spark,
            "jdbc:derby:memory:x",
            "t",
            partition_column="id",
            num_partitions=4,
        )
    with pytest.raises(ValueError, match="upper_bound"):
        read_jdbc(
            spark,
            "jdbc:derby:memory:x",
            "t",
            partition_column="id",
            lower_bound=0,
        )


def test_table_cache_bounds_session_count(spark, sf_dir):
    """The analyzed-relation cache keeps at most _TABLE_CACHE_SESSIONS
    sessions (cached DataFrames pin their session, so an unbounded —
    or ineffectively weak — cache would leak every dead session)."""
    read_table(spark, sf_dir, "nation")
    for _ in range(_TABLE_CACHE_SESSIONS + 2):
        s = spark.newSession()
        df = read_table(s, sf_dir, "nation")
        assert df.count() > 0
    assert len(_TABLE_CACHE) <= _TABLE_CACHE_SESSIONS


def test_read_table_sees_overwritten_table(spark, tmp_path):
    """A relation cached by read_table lists the table's part files once;
    after write_parquet_overwrite replaces them, read_table must resolve
    the table anew instead of failing on the deleted files."""
    d = str(tmp_path)
    path = os.path.join(d, "t.parquet")
    write_parquet_overwrite(spark.range(3), path)
    assert read_table(spark, d, "t").count() == 3
    write_parquet_overwrite(spark.range(5), path)
    assert read_table(spark, d, "t").count() == 5


def test_read_table_sees_upserted_partitions(spark, tmp_path):
    """The partition upsert rewrites files under the table's directory:
    the cached relation of the table must be dropped too."""
    d = str(tmp_path)
    path = os.path.join(d, "t.parquet")
    upsert_partitions(spark.range(4).selectExpr("id", "id % 2 AS p"), path, ["p"])
    assert read_table(spark, d, "t").count() == 4
    upsert_partitions(spark.range(3).selectExpr("id", "0 AS p"), path, ["p"])
    # partition p=0 now holds 3 rows, p=1 keeps its 2
    assert read_table(spark, d, "t").count() == 5
