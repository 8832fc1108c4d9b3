"""Write-layout operators, round 3: dynamic partition overwrite,
small-file compaction, and sort-clustered writes.

These are the table-maintenance primitives a 100-TB warehouse runs
continuously: backfilling one date partition without touching the
rest (partitionOverwriteMode=dynamic — the Hive/Iceberg INSERT
OVERWRITE PARTITION shape on plain parquet), compacting the small
files a streaming sink accumulates, and laying data out key-clustered
so later scans prune whole files by footer min/max.

Each entry performs the real filesystem round trip in a scratch dir
and emits only deterministic evidence (row counts, exact file counts
from explicit repartitioning, disjointness counts, cents totals) that
the DuckDB oracle reproduces from the source tables + literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.registry import register

@register(
    "etl_partition_overwrite",
    oracle="""
-- dynamic partition overwrite with an EMPTY source is a no-op (no
-- partition directories are listed, so none are replaced): the 'F'
-- partition only shrinks to the backfill count when the backfill
-- actually has rows
WITH bf AS (SELECT count(*) AS n FROM orders
            WHERE o_orderstatus = 'F'
              AND o_orderdate < TIMESTAMP '1998-01-01')
SELECT o_orderstatus,
  CASE WHEN o_orderstatus = 'F' AND (SELECT n FROM bf) > 0
       THEN (SELECT n FROM bf)
       ELSE count(*) END AS cnt
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    tags=("A5", "G1"),
)
def etl_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (INSERT OVERWRITE PARTITION on
    plain parquet): a backfill job rewrites ONLY the 'F' status
    partition (with a date-filtered subset) while 'O'/'P' partitions
    keep their original files — partitionOverwriteMode=dynamic set
    per-write, not session-wide, so the driver's vanilla session is
    unaffected.

    The re-read per-partition counts prove the semantics: 'F' shows
    the backfill subset, the others the original load. At 100 TB this
    is the daily-backfill primitive — one partition's files rewritten,
    the rest untouched (and partition pruning keeps the re-read scan
    on the touched partition only).
    """
    path = scratch("part_overwrite", sf_dir)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderstatus")
    o.write.partitionBy("o_orderstatus").mode("overwrite").parquet(path)
    backfill = o.filter(
        (F.col("o_orderstatus") == "F")
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    (
        backfill.write.partitionBy("o_orderstatus")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(path)
    )
    # explicit schema: an empty input writes no part files, which
    # would fail schema inference on the re-read
    return (
        spark.read.schema(o.schema).parquet(path)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"))
        .orderBy("o_orderstatus")
    )


@register(
    "etl_compact_small_files",
    oracle="""
SELECT count(*) AS n_rows,
  CAST(least(count(*), 64) AS BIGINT) AS n_files_before,
  CAST(least(count(*), 4) AS BIGINT) AS n_files_after,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
""",
    tags=("A5", "A1"),
)
def etl_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the maintenance job that undoes what a
    streaming sink or over-parallel write accumulates: 64 round-robin
    shards rewritten as 4, with content proven bit-preserved by the
    exact cents total of the re-read.

    File counts are deterministic (explicit repartition counts on a
    non-empty input; counted from the re-read via input_file_name, not
    the filesystem). At 100 TB the same job runs per partition with a
    target of files x maxPartitionBytes ≈ partition size.
    """
    small = scratch("compact_small", sf_dir)
    compacted = scratch("compact_big", sf_dir)
    e = load_table(spark, sf_dir, "events").select("event_id", "value")
    e.repartition(64).write.mode("overwrite").parquet(small)
    before = spark.read.schema(e.schema).parquet(small)
    n_files_before = before.select(
        F.input_file_name().alias("f")
    ).distinct().count()
    before.repartition(4).write.mode("overwrite").parquet(compacted)
    # input_file_name() is non-deterministic to Catalyst — project it
    # to a column first, then aggregate over the column.
    after = spark.read.schema(e.schema).parquet(compacted).withColumn(
        "f", F.input_file_name()
    )
    return after.agg(
        F.count("*").alias("n_rows"),
        F.lit(n_files_before).cast("long").alias("n_files_before"),
        F.countDistinct("f").cast("long").alias("n_files_after"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


@register(
    "etl_sorted_write_clustering",
    oracle="""
SELECT CAST(least(count(DISTINCT l_orderkey), 8) AS BIGINT) AS n_files,
  CAST(0 AS BIGINT) AS overlapping_pairs,
  count(*) AS n_rows,
  min(l_orderkey) AS key_min, max(l_orderkey) AS key_max
FROM lineitem
""",
    tags=("A5", "F1"),
)
def etl_sorted_write_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-clustered write (the poor-man's z-order on one key):
    repartitionByRange + sortWithinPartitions lays lineitem out in 8
    key-disjoint files, so a later key-range scan prunes whole files
    on parquet footer min/max.

    The proof is computed from the re-read, not trusted: per-file
    [min,max] key envelopes (via input_file_name) are self-joined for
    interval overlaps — the count MUST be 0 for a range-partitioned
    layout (any sampling wobble in the range boundaries would surface
    here as an overlap). Row count and global key bounds prove no data
    loss. The overlap self-join runs on n_files rows — trivial at any
    scale.
    """
    path = scratch("sorted_write", sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    (
        li.repartitionByRange(8, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.schema(li.schema).parquet(path)
    envel = (
        back.select(F.input_file_name().alias("f"), "l_orderkey")
        .groupBy("f")
        .agg(F.min("l_orderkey").alias("kmin"), F.max("l_orderkey").alias("kmax"))
    )
    a, b = envel.alias("a"), envel.alias("b")
    overlaps = (
        a.join(
            b,
            (F.col("a.f") < F.col("b.f"))
            & (F.col("a.kmin") <= F.col("b.kmax"))
            & (F.col("b.kmin") <= F.col("a.kmax")),
        )
        .agg(F.count("*").alias("overlapping_pairs"))
    )
    stats = back.agg(
        F.count("*").alias("n_rows"),
        F.min("l_orderkey").alias("key_min"),
        F.max("l_orderkey").alias("key_max"),
    )
    n_files = envel.agg(F.count("*").cast("long").alias("n_files"))
    return (
        n_files.join(F.broadcast(overlaps))
        .join(F.broadcast(stats))
        .select("n_files", "overlapping_pairs", "n_rows", "key_min", "key_max")
    )
