"""Sinks (SURVEY.md §2.1 S6-S9).

The reference writes parquet part-files then delete-prefix-uploads to S3
(retrieval.py:92-102,142-146; cleaning.py:101-117) and loads Postgres
with ``if_exists="replace"`` (TableTransform.py:26-29). Spark-first:
``mode("overwrite")`` gives idempotent delete-then-write natively, part
files and ``_SUCCESS`` markers are automatic, and the JDBC writer
distributes the load across executors instead of one driver connection.

Every file sink that overwrites drops the reader's cached relations of
the path it wrote (``readers.forget_path``); Spark itself refreshes the
cached plans that read the path (``CacheManager.recacheByPath``).
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame

from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import forget_path


def write_parquet_overwrite(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Idempotent partitioned parquet sink (S6+S7+B3).

    ``partition_by`` enables partition pruning downstream — the scale
    replacement for the reference's whole-table reads (SURVEY.md §4).
    ``maxRecordsPerFile`` bounds file size at 100TB so no single part
    file becomes a straggler.
    """
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(path)
    forget_path(path)


def write_orc_overwrite(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink (format-coverage extension of S6/S7): the other
    columnar interchange format a lake-house feeds from. Spark's ORC
    support is built-in and symmetric with parquet — predicate pushdown,
    column pruning, and partition pruning all apply; ``overwrite``
    keeps the reference's delete-then-write idempotence (cleaning.py:
    103-107 analog). Zstd compression to match the parquet sink."""
    writer = df.write.mode("overwrite").option("compression", "zstd")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)
    forget_path(path)


def write_jdbc_overwrite(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    num_partitions: int | None = None,
) -> None:
    """JDBC overwrite sink (S8; TableTransform.py:26-29 equivalent).

    ``numPartitions`` caps concurrent connections against the database;
    the write itself runs on executors, not the driver.
    """
    writer = df.write.mode("overwrite")
    if num_partitions:
        writer = df.coalesce(num_partitions).write.mode("overwrite")
    writer.jdbc(url, table, properties=properties or {})


def write_marker(path: str, step: str) -> str:
    """Completion-marker sink (S9; retrieval.py:156-160, cleaning.py:121-125).

    Spark's ``_SUCCESS`` file covers the intra-engine case; this explicit
    marker keeps the reference's cross-system orchestration contract
    (marker file fires the next pipeline stage) available.
    """
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    stamp = f"{step} completed at {_dt.datetime.now(_dt.timezone.utc).isoformat()}\n"
    with open(path, "w") as f:
        f.write(stamp)
    return stamp


def upsert_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
) -> None:
    """Partition-level upsert: overwrite ONLY the partitions present in
    ``df``, leaving the rest of the table untouched (dynamic partition
    overwrite).

    This is the incremental form of the reference's full-table
    replace (TableTransform.py:26-29 `if_exists="replace"`): a monthly
    refresh that touches 1 month of a 100 TB table rewrites 1/1200th
    of it instead of all of it, and readers see other partitions
    unchanged throughout.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )
    forget_path(path)
