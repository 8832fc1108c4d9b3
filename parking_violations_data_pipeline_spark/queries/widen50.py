"""Round-3 widening batch 51: classical seasonal indices
(ratio-to-moving-average in integer ppm), price-ending profiling
(psychological price points), and the watermark LATE-DATA DROP proof
— the complement of s_chunked_replay's in-order no-drop run.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import fixture_bytes
from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.registry import register


@register(
    "d_seasonal_index",
    oracle="""
WITH monthly AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
    month(o_orderdate) AS cal_month,
    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY m, cal_month
),
ma AS (
  SELECT m, cal_month, cents,
    CAST(sum(cents) OVER (ORDER BY m ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING) AS BIGINT) AS s12,
    CAST(count(*) OVER (ORDER BY m ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING) AS BIGINT) AS n12
  FROM monthly
),
si AS (
  SELECT cal_month, CAST(cents * 12 * 1000000 // s12 AS BIGINT) AS si_ppm
  FROM ma WHERE n12 = 12
)
SELECT CAST(cal_month AS BIGINT) AS cal_month,
  CAST(count(*) AS BIGINT) AS n_obs,
  CAST(sum(si_ppm) // count(*) AS BIGINT) AS seasonal_index_ppm
FROM si GROUP BY cal_month ORDER BY cal_month
""",
    tags=("E3", "D1", "H2"),
)
def d_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal indices by ratio-to-moving-average: each
    month's revenue over its trailing/leading 12-month window
    (only complete windows), averaged per calendar month — the
    decomposition step behind every deseasonalized KPI. The ratio
    stays integer (cents·12·10⁶ // Σ12) and index averages use floor
    division; an index of ~1 000 000 ppm means an on-trend month.
    Windows run over the ~80-row monthly series.
    """
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.select(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m"),
            F.month("o_orderdate").alias("cal_month"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("m", "cal_month")
        .agg(F.sum("cents").alias("cents"))
    )
    w12 = Window.orderBy("m").rowsBetween(-5, 6)
    ma = monthly.select(
        "cal_month",
        "cents",
        F.sum("cents").over(w12).alias("s12"),
        F.count("*").over(w12).alias("n12"),
    )
    si = ma.filter(F.col("n12") == 12).select(
        "cal_month", F.expr("cents * 12 * 1000000 div s12").alias("si_ppm")
    )
    return (
        si.groupBy(F.col("cal_month").cast("long").alias("cal_month"))
        .agg(
            F.count("*").alias("n_obs"),
            F.expr("sum(si_ppm) div count(*)").alias("seasonal_index_ppm"),
        )
        .orderBy("cal_month")
    )


@register(
    "d_price_endings",
    oracle="""
WITH endings AS (
  SELECT CAST(round(p_retailprice * 100, 0) AS BIGINT) % 100 AS ending,
    CAST(count(*) AS BIGINT) AS n
  FROM part GROUP BY ending
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM endings)
SELECT CAST(ending AS BIGINT) AS ending_cents, n,
  CAST(n * 1000000 // tot.t AS BIGINT) AS share_ppm
FROM endings CROSS JOIN tot
ORDER BY n DESC, ending_cents LIMIT 10
""",
    tags=("D1", "H3", "F3"),
)
def d_price_endings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-ending profile: the distribution of cent endings across
    the catalog (the .99/.95 psychological-pricing fingerprint, and
    a data-quality tell — a synthetic or migrated price list shows
    unnatural ending mass). Top-10 endings with exact shares;
    modulus on the exact cent grid.
    """
    p = load_table(spark, sf_dir, "part")
    endings = p.select(
        (F.round(F.col("p_retailprice") * 100, 0).cast("long") % 100).alias("ending_cents")
    ).groupBy("ending_cents").agg(F.count("*").alias("n"))
    tot = endings.agg(F.sum("n").alias("t"))
    return (
        endings.crossJoin(F.broadcast(tot))
        .select(
            "ending_cents",
            "n",
            F.expr("n * 1000000 div t").alias("share_ppm"),
        )
        .orderBy(F.desc("n"), "ending_cents")
        .limit(10)
    )


@register(
    "s_late_data_drop",
    oracle="""
-- faithful model of the replay choreography: batches run q4,q3,q2,q1;
-- the watermark (batch max ts - 1h) binds with ONE batch of lag, so
-- q4/q3 are always accepted, q2 faces wm=max(q4)-1h and q1 faces
-- wm=max(q3∪q4)-1h. A quartile whose upstream max is NULL (empty)
-- leaves the watermark unset — nothing drops. On well-separated
-- fixtures this reduces to the old 'quartiles 3∪4 survive'; on
-- degenerate inputs (single row, zero-variance ts) nothing is late.
WITH ranked AS (
  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
    CAST(round(value * 100, 0) AS BIGINT) AS cents,
    ntile(4) OVER (ORDER BY ts, event_id) AS qt
  FROM events WHERE ts IS NOT NULL
),
wm AS (
  SELECT (SELECT max(ts) FROM ranked WHERE qt = 4) AS mx4,
         (SELECT max(ts) FROM ranked WHERE qt >= 3) AS mx34
),
kept AS (
  SELECT r.* FROM ranked r, wm
  WHERE r.qt >= 3
     OR (r.qt = 2 AND (wm.mx4 IS NULL
                       OR r.ts >= wm.mx4 - INTERVAL 1 HOUR))
     OR (r.qt = 1 AND (wm.mx34 IS NULL
                       OR r.ts >= wm.mx34 - INTERVAL 1 HOUR))
)
SELECT date_trunc('hour', ts) AS h, event_type,
  CAST(count(*) AS BIGINT) AS cnt,
  CAST(sum(cents) AS BIGINT) AS cents
FROM kept
GROUP BY h, event_type ORDER BY h, event_type
""",
    tags=("I1", "I5", "A6"),
)
def s_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark DROP semantics, measured: the same four time-quarter
    chunks as s_chunked_replay but replayed in REVERSE order (newest
    quarter first, via explicit mtime stamps). MEASURED engine fact:
    the global watermark propagates with ONE BATCH OF LAG — batch 2
    (the second-newest quarter) still executes under the initial
    watermark and is ACCEPTED; the advanced watermark (corpus max −
    1 h) takes effect from batch 3, so quarters 1-2 drop entirely.
    The surviving aggregate therefore equals quartiles 3∪4 exactly
    (the oracle recomputes them relationally) — deterministic
    because mtime stamps pin batch order and maxFilesPerTrigger pins
    the batch decomposition. Together with s_chunked_replay
    (in-order → nothing dropped) this pins both halves of the
    watermark contract, including the propagation delay operators
    must budget for.
    """
    src = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type", "value")
        # NULL event times never reach a watermarked sink; excluding
        # them BEFORE quartiling keeps the chunk boundaries identical
        # to the oracle's (Spark sorts NULLS FIRST, DuckDB LAST)
        .filter(F.col("ts").isNotNull())
    )
    chunk_dir = scratch("late_drop_src")
    q = src.selectExpr("*", "ntile(4) over (order by ts, event_id) as qt")
    for k in range(1, 5):
        (
            q.filter(F.col("qt") == k)
            .drop("qt")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(chunk_dir, f"stage-{k}"))
        )
    flat_dir = scratch("late_drop_flat")
    os.makedirs(flat_dir, exist_ok=True)
    for k in range(1, 5):
        stage = os.path.join(chunk_dir, f"stage-{k}")
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        dst = os.path.join(flat_dir, f"chunk-{k}.parquet")
        shutil.copy(os.path.join(stage, part), dst)
        # REVERSED batch order: newest quarter gets the oldest mtime
        os.utime(dst, (1_700_000_000 - k, 1_700_000_000 - k))

    schema = src.schema
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(flat_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
    )
    agg = (
        s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        )
        .select(F.col("w.start").alias("h"), "event_type", "cnt", "cents")
    )
    from parking_violations_data_pipeline_spark.streaming.jobs import run_available_now

    out = run_available_now(agg, "update", src_bytes=fixture_bytes(sf_dir, "events"))
    final = out.groupBy("h", "event_type").agg(
        F.max("cnt").alias("cnt"), F.max_by("cents", "cnt").alias("cents")
    )
    return final.orderBy("h", "event_type")
