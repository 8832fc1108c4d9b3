"""Round-4 widening batch 100: streaming observe() metrics — in-flight
data-quality counters surfaced through StreamingQueryProgress, proven
against the batch answer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.functions.localrel import local_df
from parking_violations_data_pipeline_spark.registry import register
from parking_violations_data_pipeline_spark.streaming import jobs


@register(
    "s_stream_observe",
    oracle="""
SELECT
  CAST(count(*) AS BIGINT) AS observed_rows,
  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
    AS observed_cents,
  CAST(count(*) FILTER (WHERE value <= 0) AS BIGINT) AS observed_nonpos
FROM events
""",
    tags=("A6", "I8"),
)
def s_stream_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observe(): named data-quality counters attached to
    the streaming plan itself (row count, cents total, non-positive
    values) and read back from each micro-batch's
    progress.observedMetrics — the zero-extra-scan monitoring hook
    (the streaming sibling of etl_inflight_observe). The counters
    accumulate per batch; their drain-total must equal the batch
    answer over the same source exactly — if the observation point
    saw fewer rows than the sink wrote, the monitor is lying. Metrics
    are collected via a StreamingQueryListener-free path: summing
    recentProgress after availableNow completes."""
    s = jobs.events_stream(spark, sf_dir)
    observed = s.observe(
        "dq",
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        F.count(F.when(F.col("value") <= 0, 1)).alias("nonpos"),
    )
    name = f"s_observe_{os.getpid()}"
    ckpt = scratch(f"ckpt_{name}")
    q = (
        observed.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = nonpos = 0
    cents = None  # SQL sum: NULL when no batch observed any value
    for p in q.recentProgress:
        m = p["observedMetrics"].get("dq") if p["observedMetrics"] else None
        if m:
            rows += m["rows"] or 0
            if m["cents"] is not None:
                cents = (cents or 0) + m["cents"]
            nonpos += m["nonpos"] or 0
    return local_df(
        spark,
        [(rows, cents, nonpos)],
        "observed_rows long, observed_cents long, observed_nonpos long",
    )
