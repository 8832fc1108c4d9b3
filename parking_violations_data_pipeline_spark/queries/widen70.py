"""Round-3 widening batch 71: the streaming progress-metrics
contract — StreamingQuery.recentProgress must account for every
input row (the monitoring surface operators alert on).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.functions.localrel import local_df
from parking_violations_data_pipeline_spark.registry import register
from parking_violations_data_pipeline_spark.streaming import jobs


@register(
    "s_progress_metrics",
    oracle="""
SELECT
  CAST(count(*) AS BIGINT) AS n_input_rows,
  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
  TRUE AS metrics_account_for_all_rows
FROM events
""",
    tags=("A6", "I8", "L"),
)
def s_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observability contract: the numInputRows reported
    across StreamingQuery progress events must sum to EXACTLY the
    rows the source holds — the invariant every lag/throughput
    monitor silently assumes (an under-reporting metrics bus makes
    a healthy pipeline look stalled, an over-reporting one hides
    data loss). A windowless pass-through stream drains under
    availableNow; the MEASURED progress total is compared in-plan
    against the relational count the oracle re-derives.
    """
    s = jobs.events_stream(spark, sf_dir).select("event_id", "event_type")
    name = f"progress_probe_{os.getpid()}"
    ckpt = scratch(f"ckpt_{name}")
    q = (
        s.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress_rows = sum(
        int(p["numInputRows"]) for p in q.recentProgress if p is not None
    )
    sunk = spark.table(name)
    n_sunk = sunk.count()
    # countDistinct, not distinct().count(): SQL COUNT(DISTINCT) never
    # counts the NULL group (an all-NULL feed has zero types)
    n_types = sunk.agg(F.countDistinct("event_type")).first()[0]
    ok = progress_rows == n_sunk
    return local_df(
        spark,
        [(n_sunk, n_types, bool(ok))],
        "n_input_rows long, n_types long, metrics_account_for_all_rows boolean",
    )
