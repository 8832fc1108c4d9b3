"""Round-3 widening batch 28: lakehouse lifecycle semantics —
partition-level retention pruning, streaming exactly-once replay
against a shared checkpoint, and the Python DataSource WRITE path
(custom two-phase-commit sink with a driver-side manifest).
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import fixture_bytes
from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.functions.timeutil import epoch_us
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.registry import register
from parking_violations_data_pipeline_spark.streaming import jobs


@register(
    "etl_retention_prune",
    oracle="""
WITH e AS (
  SELECT epoch_us(ts) // 86400000000 AS day_id,
    CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
cutoff AS (SELECT max(day_id) - 6 AS keep_from FROM e)
SELECT CAST(day_id AS BIGINT) AS day_id,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(cents) AS BIGINT) AS cents
FROM e CROSS JOIN cutoff
WHERE day_id >= keep_from
GROUP BY day_id ORDER BY day_id
""",
    tags=("A5", "A1", "L"),
)
def etl_retention_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level retention enforcement: events land
    day-partitioned, the retention job DELETES partition directories
    older than the 7-day window at the FILESYSTEM level (no row
    rewrite — the whole point of date partitioning is that expiry is
    an O(partitions) directory drop, not an O(rows) delete), and the
    re-read proves exactly the retained days survive. The oracle
    recomputes the retained window from the source, so a green row
    means the prune removed everything it should and nothing it
    shouldn't — the GDPR-erasure twin at partition grain
    (etl_gdpr_erasure is the row-grain version).
    """
    path = scratch("retention_prune")
    e = load_table(spark, sf_dir, "events").select(
        epoch_us("ts").alias("us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    ).select(F.expr("us div 86400000000").alias("day_id"), "cents")
    e.repartition(8, "day_id").write.mode("overwrite").partitionBy("day_id").parquet(path)

    keep_from = e.agg((F.max("day_id") - 6).alias("k")).collect()[0]["k"]
    for d in glob.glob(os.path.join(path, "day_id=*")):
        part = d.rsplit("=", 1)[1]
        # NULL day_id rows land in __HIVE_DEFAULT_PARTITION__; the
        # retained window (day_id >= keep_from) never includes NULL, so
        # that dir is always pruned. keep_from is None only when the
        # source has no non-NULL day — then nothing is retained.
        if part == "__HIVE_DEFAULT_PARTITION__" or keep_from is None or int(part) < keep_from:
            shutil.rmtree(d)

    # explicit schema: a fully-pruned (or empty-input) layout has no
    # files left, which would fail schema inference
    back = spark.read.schema(e.schema).parquet(path)
    return (
        back.groupBy(F.col("day_id").cast("long").alias("day_id"))
        .agg(F.count("*").alias("n_rows"), F.sum("cents").alias("cents"))
        .orderBy("day_id")
    )


@register(
    "s_exactly_once_replay",
    oracle="""
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("A6", "I8", "I5"),
)
def s_exactly_once_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once REPLAY semantics: the same availableNow stream →
    parquet-sink query is started TWICE against one checkpoint. Run 1
    drains the source; run 2 sees the checkpoint, finds no new files,
    and commits nothing — the re-read equals the batch answer, which
    only holds if the second run neither duplicated nor reprocessed
    (the file-sink transaction log + source offsets in the checkpoint
    are what make restart idempotent; a naive sink would double every
    row). This is the operational property that makes streaming jobs
    safe to re-run after a crash or deploy.
    """
    out_dir = scratch("exactly_once_out")
    ckpt = scratch("ckpt_exactly_once")

    def run_once() -> None:
        s = jobs.events_stream(spark, sf_dir).select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        with jobs._stream_conf(
            spark, jobs.stream_partitions(fixture_bytes(sf_dir, "events"))
        ):
            q = (
                s.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    run_once()
    run_once()  # replay: must be a no-op under the same checkpoint
    back = spark.read.parquet(out_dir)
    return (
        back.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("cents"))
        .orderBy("event_type")
    )


@register(
    "a_python_datasource_write",
    oracle="""
SELECT o_orderpriority AS priority,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
  TRUE AS manifest_ok
FROM orders GROUP BY o_orderpriority ORDER BY priority
""",
    tags=("A5", "K4"),
)
def a_python_datasource_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python DataSource API WRITE path (the read path is
    a_python_datasource): orders flow into a custom `integer_ledger`
    sink whose tasks each write one JSON-lines shard and report
    (rows, cents) in their WriterCommitMessage; the driver-side
    commit() folds the messages into a _MANIFEST — the two-phase
    commit contract (shards become authoritative only when the
    manifest lands; abort() deletes orphans). The query re-reads the
    shards, re-aggregates, and cross-checks the manifest totals
    in-plan (manifest_ok) — proving both the per-task write path and
    the driver-side commit fold.
    """
    from parking_violations_data_pipeline_spark.sources.pyds import LedgerDataSource

    from parking_violations_data_pipeline_spark.sources.pyds import (
        register_python_datasource,
    )

    register_python_datasource(spark, LedgerDataSource)
    from parking_violations_data_pipeline_spark.sources.pyds import (
        save_python_datasource,
    )
    path = scratch("pyds_ledger_out")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    save_python_datasource(o, "integer_ledger", mode="append", path=path)

    with open(os.path.join(path, "_MANIFEST.json")) as fh:
        man = json.load(fh)
    back = spark.read.schema("priority string, cents long").json(
        os.path.join(path, "part-*.jsonl")
    )
    totals = back.agg(
        F.count("*").alias("tn"), F.sum("cents").alias("tc")
    ).collect()[0]
    # SQL sum over zero non-NULL cents is NULL; the ledger manifest
    # records 0 — coalesce before comparing the two folds
    manifest_ok = bool(
        man["n_rows"] == totals["tn"]
        and man["cents"] == (totals["tc"] if totals["tc"] is not None else 0)
    )
    return (
        back.groupBy("priority")
        .agg(F.count("*").alias("n_rows"), F.sum("cents").alias("cents"))
        .withColumn("manifest_ok", F.lit(manifest_ok))
        .orderBy("priority")
    )
