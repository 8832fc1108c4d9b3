"""Round-4 widening batch 113: orphan-file garbage collection (the
VACUUM that completes the time-travel + deletion-vector lakehouse
trio) and per-user interval merging (gaps-and-islands on intervals).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.functions.timeutil import epoch_us
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.functions.localrel import local_df
from parking_violations_data_pipeline_spark.registry import register


@register(
    "etl_orphan_gc",
    oracle="""
SELECT
  CAST(count(*) AS BIGINT) AS live_rows,
  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
    AS live_cents,
  TRUE AS orphans_found,
  TRUE AS read_unaffected
FROM orders WHERE o_orderkey % 4 = 0
""",
    tags=("A5", "L"),
)
def etl_orphan_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-file GC — the VACUUM completing the lakehouse trio
    (manifests = a_time_travel_versions, logical deletes =
    etl_deletion_vectors): the data directory accumulates files that
    NO manifest references (failed-job leftovers, compacted-away
    inputs); GC lists the directory, anti-joins against the manifest's
    file set driver-side, deletes the orphans, and the manifest read
    must return byte-identical results before and after (the safety
    property that makes VACUUM runnable anytime). Here: committed
    files hold orderkey%4==0; two orphan files (other residues) are
    planted; the in-plan booleans prove orphans existed and the
    post-GC read equals the pre-GC read."""
    root = scratch("orphan_gc")
    data = os.path.join(root, "data")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    committed_dir = os.path.join(data, "committed")
    o.filter(F.col("o_orderkey") % 4 == 0).write.mode("overwrite").parquet(
        committed_dir
    )
    committed = sorted(
        os.path.join(committed_dir, f)
        for f in os.listdir(committed_dir)
        if f.endswith(".parquet")
    )
    os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
    with open(os.path.join(root, "_manifests", "current.json"), "w") as f:
        json.dump({"files": committed}, f)
    # plant orphans: uncommitted leftovers in the same tree
    orphan_dir = os.path.join(data, "failed_job")
    o.filter(F.col("o_orderkey") % 4 == 1).limit(100).write.mode(
        "overwrite"
    ).parquet(orphan_dir)
    # an EMPTY source writes no part files above — plant one synthetic
    # orphan so the GC invariant (orphans_found) holds on any input
    spark.range(1).select(
        F.lit(-1).cast("long").alias("o_orderkey"),
        F.lit(0.0).alias("o_totalprice"),
    ).write.mode("overwrite").parquet(os.path.join(data, "failed_job2"))

    def read_manifest() -> DataFrame:
        with open(os.path.join(root, "_manifests", "current.json")) as f:
            files = json.load(f)["files"]
        if not files:  # empty commit: no part files were written
            return spark.createDataFrame([], o.schema)
        return spark.read.parquet(*files)

    before = read_manifest().agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("c"),
    ).collect()[0]
    # GC: everything under data/ not in the manifest is an orphan
    on_disk = set()
    for dirpath, _dirs, files in os.walk(data):
        for fn in files:
            if fn.endswith(".parquet"):
                on_disk.add(os.path.join(dirpath, fn))
    orphans = on_disk - set(committed)
    assert orphans, "test setup must plant at least one orphan"
    for path in orphans:
        os.remove(path)
    after = read_manifest().agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("c"),
    ).collect()[0]
    return local_df(
        spark,
        [
            (
                int(after["n"]),
                # sum over an empty commit is NULL — keep it NULL
                int(after["c"]) if after["c"] is not None else None,
                bool(len(orphans) > 0),
                bool(
                    before["n"] == after["n"] and before["c"] == after["c"]
                ),
            )
        ],
        "live_rows long, live_cents long, orphans_found boolean,"
        " read_unaffected boolean",
    )


@register(
    "q_merge_intervals",
    oracle="""
WITH iv AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
    min(epoch_us(ts)) AS st, max(epoch_us(ts)) + 3600000000 AS en
  FROM events WHERE ts IS NOT NULL GROUP BY user_id, d
),
marked AS (
  SELECT user_id, st, en,
    CASE WHEN st > coalesce(max(en) OVER (
           PARTITION BY user_id ORDER BY st, en
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         THEN 1 ELSE 0 END AS new_island
  FROM iv
),
islands AS (
  SELECT user_id, st, en,
    sum(new_island) OVER (PARTITION BY user_id ORDER BY st, en
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS island_id
  FROM marked
),
merged AS (
  SELECT user_id, island_id, min(st) AS mst, max(en) AS men
  FROM islands GROUP BY user_id, island_id
)
SELECT
  CAST((SELECT count(*) FROM iv) AS BIGINT) AS n_intervals,
  CAST(count(*) AS BIGINT) AS n_merged,
  CAST(sum(men - mst) AS BIGINT) AS covered_us,
  CAST(max(men - mst) AS BIGINT) AS longest_merged_us
FROM merged
""",
    tags=("E3", "E2"),
)
def q_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval merging — gaps-and-islands ON INTERVALS (the calendar
    consolidation op: overlapping or touching spans collapse into one
    booked block). Each user's daily activity span is padded by an
    hour; an interval starts a NEW island exactly when its start
    exceeds the running MAX of all previous ends (max, not lag — an
    earlier long interval can swallow several later ones, the case
    naive lag-based merging gets wrong). Island ids come from the
    running sum of starts; the census reports the interval→block
    compression and total covered time. One user shuffle drives both
    windows and the merge rollup."""
    # intervals are built from event time: NULL ts dropped both sides
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    iv = e.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        epoch_us(F.min("ts")).alias("st"),
        (epoch_us(F.max("ts")) + 3_600_000_000).alias("en"),
    )
    w = Window.partitionBy("user_id").orderBy("st", "en")
    marked = iv.select(
        "user_id",
        "st",
        "en",
        F.when(
            F.col("st")
            > F.coalesce(
                F.max("en").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(-1),
            ),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    islands = marked.withColumn(
        "island_id",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    merged = islands.groupBy("user_id", "island_id").agg(
        F.min("st").alias("mst"), F.max("en").alias("men")
    )
    return iv.agg(F.count("*").alias("n_intervals")).crossJoin(
        merged.agg(
            F.count("*").alias("n_merged"),
            F.sum(F.col("men") - F.col("mst")).alias("covered_us"),
            F.max(F.col("men") - F.col("mst")).alias("longest_merged_us"),
        )
    )
