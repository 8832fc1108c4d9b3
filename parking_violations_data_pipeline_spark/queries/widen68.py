"""Round-3 widening batch 69: response-latency distribution (click →
the user's next purchase within 24 h) and the CSV quoting/multiline
parser contract round-trip.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.functions.timeutil import epoch_us
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.functions.localrel import local_df
from parking_violations_data_pipeline_spark.registry import register


@register(
    "q_click_to_purchase_latency",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events
),
clicks AS (SELECT user_id, us, event_id FROM e WHERE event_type = 'click'),
purch AS (SELECT user_id, us FROM e WHERE event_type = 'purchase'),
lat AS (
  SELECT c.user_id, c.event_id,
    min(p.us - c.us) AS lat_us
  FROM clicks c JOIN purch p
    ON c.user_id = p.user_id AND p.us > c.us AND p.us <= c.us + 86400000000
  GROUP BY c.user_id, c.event_id
),
ranked AS (
  SELECT lat_us,
    row_number() OVER (ORDER BY lat_us, user_id, event_id) AS rn,
    count(*) OVER () AS n
  FROM lat
)
SELECT
  CAST(max(n) AS BIGINT) AS n_responses,
  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN lat_us END) // 1000000 AS BIGINT) AS p50_s,
  CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN lat_us END) // 1000000 AS BIGINT) AS p90_s,
  CAST(min(lat_us) // 1000000 AS BIGINT) AS min_s
FROM ranked
""",
    tags=("C8", "D5", "E2"),
)
def q_click_to_purchase_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Response-latency distribution: for every click, the time to
    the SAME user's next purchase within 24 h (unanswered clicks
    drop) — the engagement-to-conversion lag marketing handoffs are
    tuned against. The pairing is a user-keyed equi-join with the
    window as residual (per-user event counts bound the blow-up);
    p50/p90 are rank-exact with a full tie-break, reported in whole
    seconds via floor division.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_us("ts").alias("us"), "event_id"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("us").alias("cus"), "event_id"
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("us").alias("pus")
    )
    lat = (
        clicks.join(
            purch,
            (clicks.user_id == purch.pu)
            & (purch.pus > clicks.cus)
            & (purch.pus <= clicks.cus + F.lit(86400000000)),
        )
        .groupBy("user_id", "event_id")
        .agg(F.min(F.col("pus") - F.col("cus")).alias("lat_us"))
    )
    ranked = lat.select(
        "lat_us",
        F.row_number()
        .over(Window.orderBy("lat_us", "user_id", "event_id"))
        .alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    return ranked.agg(
        F.max("n").alias("n_responses"),
        F.expr(
            "max(CASE WHEN rn = (n + 1) div 2 THEN lat_us END) div 1000000"
        ).alias("p50_s"),
        F.expr(
            "max(CASE WHEN rn = (9 * n + 9) div 10 THEN lat_us END) div 1000000"
        ).alias("p90_s"),
        F.expr("min(lat_us) div 1000000").alias("min_s"),
    )


@register(
    "a_csv_quoting_roundtrip",
    oracle="""
WITH expected(id, content_md5) AS (
  VALUES
    (CAST(1 AS BIGINT), md5('plain value')),
    (CAST(2 AS BIGINT), md5('has,comma')),
    (CAST(3 AS BIGINT), md5('has "quotes" inside')),
    (CAST(4 AS BIGINT), md5('line one' || chr(10) || 'line two')),
    (CAST(5 AS BIGINT), md5('trailing space '))
)
SELECT id, content_md5, TRUE AS roundtrip_ok FROM expected ORDER BY id
""",
    tags=("A2", "H1"),
)
def a_csv_quoting_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CSV quoting contract, round-tripped: values containing the
    delimiter, embedded double quotes (doubled per RFC 4180),
    embedded NEWLINES (multiLine=true on read), and trailing
    whitespace are written and re-read, and each value's md5 must
    match the original byte-for-byte — the parser corner-case suite
    that silently corrupts feeds when any default
    (quote/escape/multiLine/ignoreTrailingWhiteSpace) is wrong.
    roundtrip_ok measures equality in-plan; the oracle pins the
    expected digests from literal reconstruction.

    Round 8 (flushed by the independent stdlib reparse,
    tests/test_indep_sources_r8.py): Spark's DEFAULT escape char is
    backslash, so embedded quotes were written as `\"` — Spark
    re-reads its own dialect fine, but the artifact violates RFC 4180
    (doubled quotes) and stdlib csv / Excel / DuckDB would misparse
    it. The writer and reader now pin escape='"', making the written
    bytes RFC 4180; the interop contract is what the entry exists to
    prove.
    """
    values = [
        (1, "plain value"),
        (2, "has,comma"),
        (3, 'has "quotes" inside'),
        (4, "line one\nline two"),
        (5, "trailing space "),
    ]
    src = local_df(spark, values, "id long, content string")
    path = scratch("csv_quoting")
    (
        src.coalesce(1)
        .write.mode("overwrite")
        .option("quoteAll", "true")
        .option("escape", '"')  # RFC 4180 doubled quotes, not \"
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path, header=True)
    )
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .option("ignoreTrailingWhiteSpace", "false")
        .schema("id long, content string")
        .csv(path)
    )
    joined = src.select(
        F.col("id").alias("sid"), F.md5("content").alias("src_md5")
    ).join(back.select("id", F.md5("content").alias("back_md5")), F.col("sid") == F.col("id"))
    ok = joined.filter(F.col("src_md5") != F.col("back_md5")).count() == 0
    return (
        src.select("id", F.md5("content").alias("content_md5"))
        .withColumn("roundtrip_ok", F.lit(bool(ok)))
        .orderBy("id")
    )
