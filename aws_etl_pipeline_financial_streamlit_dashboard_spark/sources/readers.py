"""Declarative readers (SURVEY.md §2.1 S1-S5).

The reference reads parquet directories, a CSV seed list, and a JSON
config with pandas + boto3 (cleaning.py:15-17, retrieval.py:77-78,
TableTransform.py:16-18). Spark-first equivalents are one-liners that
keep predicate pushdown and column pruning available to Catalyst — the
reference pruned columns manually (SURVEY.md §4); here the lazy plan
does it, so a query touching 2 columns scans 2 columns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_etl_pipeline_financial_streamlit_dashboard_spark.schemas import TESTDATA_TABLES


# Analyzed-relation cache: resolving a table (parquet footer read +
# schema inference + py4j round trips) costs ~0.1 s per call; a
# metastore-backed engine resolves each table once and reuses the
# relation, so this reader does too. DataFrames are immutable plan
# objects — reuse across queries is safe until the table's files are
# rewritten, so the overwrite sinks drop the entries of the path they
# wrote (forget_path). Keyed by the SparkSession
# OBJECT (not applicationId): a DataFrame belongs to the session that
# built it — under an applicationId key a second session
# (spark.newSession()) would receive another session's DataFrames,
# whose temp-view registrations land in the WRONG session catalog.
# Bounded LRU (a weak dict cannot evict here: cached DataFrames hold a
# strong reference back to their session, so the weakref would never
# die): at most _TABLE_CACHE_SESSIONS sessions stay cached; evicting
# the oldest releases its DataFrames and with them the session.
_TABLE_CACHE: dict[SparkSession, dict[tuple[str, str], DataFrame]] = {}
_TABLE_CACHE_SESSIONS = 4


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet directory/file scan (S1; cleaning.py:15-17 equivalent).

    ``spark.read.parquet`` handles part-file directories natively and
    exposes the scan to Catalyst for filter/column pushdown.

    The driver's ``events`` table stores TIMESTAMP(NANOS), which Spark's
    parquet reader rejects; with ``spark.sql.legacy.parquet.nanosAsLong``
    (set in session.get_spark) the column arrives as nanos-since-epoch
    longs and is converted here to a proper timestamp (truncation to
    micros matches DuckDB's ns→us conversion).
    """
    per_session = _TABLE_CACHE.get(spark)
    if per_session is None:
        per_session = {}
        _TABLE_CACHE[spark] = per_session
        while len(_TABLE_CACHE) > _TABLE_CACHE_SESSIONS:
            _TABLE_CACHE.pop(next(iter(_TABLE_CACHE)))
    else:
        # True LRU: refresh recency on hit (dicts iterate in insertion
        # order, so pop/re-insert moves this session to the young end) —
        # otherwise the most-ACTIVE session could be evicted while idle
        # ones stay pinned, each holding its SparkSession alive.
        _TABLE_CACHE.pop(spark)
        _TABLE_CACHE[spark] = per_session
    key = (sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    if name == "events":
        # runtime-settable; makes the reader work under any caller's
        # SparkSession (the driver builds its own)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for fld in df.schema.fields:
        if fld.name != "ts":
            continue
        flavor = fld.dataType.simpleString()
        if flavor == "bigint":
            # Legacy nanosAsLong fallback. Build TIMESTAMP_NTZ by pure
            # arithmetic on an NTZ epoch literal — no LTZ type appears,
            # so the wall clock is the naive UTC reading under ANY
            # session timezone (the timestamp_micros() it replaces
            # produced LTZ, whose later NTZ cast moved with the session
            # zone — the latent trap this boundary now closes).
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000,"
                    " TIMESTAMP_NTZ'1970-01-01 00:00:00')"
                ),
            )
        elif flavor == "timestamp":
            # A true TIMESTAMP(LTZ) column would re-anchor to the
            # session wall clock downstream, silently moving day/month
            # buckets under a shifted driver timezone. The engine's
            # day-key invariant (functions.scalars.ts_micros) assumes
            # NTZ storage — enforce it here rather than assume it.
            raise TypeError(
                f"{name}.ts is TIMESTAMP(LTZ); the engine requires "
                "TIMESTAMP_NTZ storage (isAdjustedToUTC=false) so "
                "day/month bucket keys are session-timezone-invariant"
            )
    per_session[key] = df
    return df


def forget_path(path: str) -> None:
    """Drop the cached relations of every table stored at or under
    ``path``. A cached relation lists its part files once, so after a
    sink rewrites them it would keep reading deleted files; the
    overwrite sinks call this, and the next ``read_table`` resolves the
    table anew."""
    root = os.path.abspath(path)
    for per_session in list(_TABLE_CACHE.values()):
        for key in list(per_session):
            table = os.path.abspath(os.path.join(key[0], f"{key[1]}.parquet"))
            if os.path.commonpath([root, table]) == root:
                per_session.pop(key, None)


def load_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver testdata table present under ``sf_dir``."""
    out: dict[str, DataFrame] = {}
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = spark.read.parquet(path)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each testdata table as a temp view for ``spark.sql`` plans
    (the S5 pattern: the reference delegated serving SQL to Postgres,
    Frontend.py:28-79; here the engine itself serves SQL)."""
    dfs = load_testdata(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def read_csv_seed(spark: SparkSession, path: str, column: str = "ticker_name") -> DataFrame:
    """CSV seed-dimension scan (S2; retrieval.py:77-78 equivalent).

    Projects the seed column and uppercases it — the case-insensitive
    lookup contract (retrieval.py:78, Frontend.py:23).
    """
    return (
        spark.read.option("header", "true").csv(path)
        .select(F.upper(F.col(column)).alias(column))
    )


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """JDBC source (the read direction of S5/S8 — the reference's
    serving path reads ratio tables back from Postgres, Frontend.py:
    28-79; symmetric to sinks.write_jdbc_overwrite).

    Default is a single-connection read — correct for the dim-sized
    serving tables the reference round-trips. For a big table pass the
    partitioning quartet: Spark then issues ``num_partitions`` range
    predicates on ``partition_column`` in parallel, one connection per
    partition — the only way a JDBC scan keeps 1000 executors busy.
    Catalyst pushes filters and column pruning into the generated SQL
    either way (JDBCRelation handles both), so a 2-column projection
    with a WHERE clause ships exactly that query to the database.
    """
    reader = spark.read
    if partition_column is not None:
        missing = [
            arg
            for arg, val in (
                ("lower_bound", lower_bound),
                ("upper_bound", upper_bound),
            )
            if val is None
        ]
        if missing:
            # Without this, None stringifies into the JDBC options
            # ('lowerBound'='None') and fails far from the call site
            # with an opaque number-parse error.
            raise ValueError(
                "read_jdbc: partition_column=%r requires %s"
                % (partition_column, " and ".join(missing))
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    return reader.jdbc(url, table, properties=properties or {})


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC directory scan (format-coverage twin of S1): same Catalyst
    pushdown surface as parquet (filters, column pruning, partition
    pruning) — a query touching 2 columns scans 2 columns."""
    return spark.read.orc(path)


def read_json_config(spark: SparkSession, path: str) -> dict:
    """JSON config scan (S3; TableTransform.py:16-18 equivalent).

    Config is driver-side state, not distributed data — plain json load.
    """
    import json

    with open(path) as f:
        return json.load(f)
