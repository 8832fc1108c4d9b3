"""Bucketed (co-located) joins — the 100-TB fact-fact join layout.

Two tables bucketed AND sorted by the join key with the same bucket
count join with neither an Exchange nor a Sort in the plan: the
shuffle was paid once at write time and amortized over every
subsequent join/aggregation on that key. This is the layout decision
that matters most for a fact table joined daily at 100 TB.

Local note: saveAsTable writes managed parquet tables under
spark.sql.warehouse.dir; bucket metadata lives in the session catalog
(in production: Hive metastore / Unity-style catalog).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession

from parking_violations_data_pipeline_spark.catalog import warehouse_path


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 8,
    sort: bool = True,
) -> None:
    """Persist df as a managed parquet table bucketed (and sorted)
    by `key`."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(table):
        # the session catalog is in-memory but the warehouse dir persists:
        # clear a stale location left by a previous process or saveAsTable
        # fails with LOCATION_ALREADY_EXISTS
        shutil.rmtree(warehouse_path(spark, table.lower()), ignore_errors=True)
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    key: str,
    how: str = "inner",
) -> DataFrame:
    """Join two pre-bucketed tables on their bucket key — planner emits
    SortMergeJoin with zero Exchange (asserted in tests/test_plans).

    The merge hint pins the strategy: at toy scale Catalyst would
    broadcast one side (also fine), but the point of the bucket layout
    is the shuffle-free SMJ between two tables too big to broadcast —
    hint keeps the demonstrated plan the 100-TB one."""
    return (
        spark.table(left_table)
        .hint("merge")
        .join(spark.table(right_table), key, how)
    )
