"""Round-4 widening batch 110: deletion vectors — merge-on-read
logical deletes (base files stay immutable; a position bitmap is
applied at read time), the mechanism under every modern lakehouse
DELETE.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.registry import register


@register(
    "etl_deletion_vectors",
    oracle="""
WITH base AS (
  SELECT o_orderkey,
    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
live AS (SELECT * FROM base WHERE o_orderkey % 13 <> 0)
SELECT
  CAST((SELECT count(*) FROM base) AS BIGINT) AS base_rows,
  CAST((SELECT count(*) FROM base WHERE o_orderkey % 13 = 0) AS BIGINT)
    AS deleted_rows,
  CAST((SELECT count(*) FROM live) AS BIGINT) AS live_rows,
  CAST((SELECT sum(cents) FROM live) AS BIGINT) AS live_cents,
  TRUE AS base_untouched
""",
    tags=("A5", "G3", "L"),
)
def etl_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion vectors — merge-on-read DELETE from primitives (the
    companion to a_time_travel_versions' manifest commits): the base
    parquet is written ONCE with a stable row position, a DELETE
    writes only a tiny position-bitmap file (here: positions of
    orderkey % 13 == 0), and every read applies the vector as an
    anti-join on position. The base file's md5 before and after the
    delete proves immutability — the property that makes logical
    deletes cheap (no rewrite) and time travel trivial (drop the
    vector to read the old version). A physical-rewrite compaction
    (gdpr_erasure's shape) subsumes the vector later."""
    root = scratch("deletion_vectors")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base_path = os.path.join(root, "base")
    # Per-file addressing, exactly as Delta/Iceberg store it: each
    # row's address is (file_id, pos-within-file), file_id taken from
    # the scan partition (the input split — production's data file).
    # Position assignment is a window partitioned by file_id — ONE
    # hash shuffle, then a per-partition sort, linear in rows/file at
    # any total scale. (The round-6 demo layout used a single global
    # Window.orderBy + coalesce(1): one task, 6.6x at 100x — this is
    # the documented production fix.)
    clustered = o.withColumn("file_id", F.spark_partition_id())
    w = Window.partitionBy("file_id").orderBy("o_orderkey")
    clustered.withColumn("pos", F.row_number().over(w)).write.mode(
        "overwrite"
    ).parquet(base_path)

    def file_md5s(path: str) -> dict[str, str]:
        import hashlib

        out = {}
        for fn in sorted(os.listdir(path)):
            if fn.endswith(".parquet"):
                with open(os.path.join(path, fn), "rb") as f:
                    out[fn] = hashlib.md5(f.read()).hexdigest()
        return out

    before = file_md5s(base_path)
    base = spark.read.parquet(base_path)
    # the DELETE: write only the deleted (file_id, pos) addresses —
    # one tiny vector per base file, no shuffle (filter preserves the
    # base's file-aligned partitioning)
    dv_path = os.path.join(root, "dv_v1")
    base.filter(F.col("o_orderkey") % 13 == 0).select(
        "file_id", "pos"
    ).write.mode("overwrite").parquet(dv_path)
    after = file_md5s(base_path)
    assert before == after, "base files must be untouched by a logical delete"
    dv = spark.read.parquet(dv_path)
    # read-time apply: anti-join on the composite per-file address
    live = base.join(dv, ["file_id", "pos"], "left_anti")
    return (
        base.agg(F.count("*").alias("base_rows"))
        .crossJoin(dv.agg(F.count("*").alias("deleted_rows")))
        .crossJoin(
            live.agg(
                F.count("*").alias("live_rows"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100, 0).cast("long")
                ).alias("live_cents"),
            )
        )
        .select(
            "base_rows",
            "deleted_rows",
            "live_rows",
            "live_cents",
            F.lit(bool(before == after)).alias("base_untouched"),
        )
    )
