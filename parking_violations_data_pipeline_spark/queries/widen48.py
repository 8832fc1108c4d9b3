"""Round-3 widening batch 49: Lorenz-curve decile points (the curve
behind d_gini_coefficient's scalar), ORC format round-trip (the
second columnar format Spark ships natively), and a linear-weighted
moving average from explicit integer lags.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.functions.timeutil import epoch_us
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.registry import register


@register(
    "q_lorenz_curve",
    oracle="""
WITH spend AS (
  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT cents,
    row_number() OVER (ORDER BY cents, o_custkey) AS rn,
    count(*) OVER () AS n,
    CAST(sum(cents) OVER (ORDER BY cents, o_custkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
    CAST(sum(cents) OVER () AS BIGINT) AS tot
  FROM spend
),
picked AS (
  SELECT (rn * 10) // n AS decile,
    rn * 1000000 // n AS pop_share_ppm,
    cum // greatest(tot // 1000000, 1) AS spend_share_ppm,
    row_number() OVER (PARTITION BY (rn * 10) // n ORDER BY rn DESC) AS pick
  FROM ranked
)
SELECT CAST(decile AS BIGINT) AS decile,
  CAST(pop_share_ppm AS BIGINT) AS pop_share_ppm,
  CAST(spend_share_ppm AS BIGINT) AS spend_share_ppm
FROM picked WHERE pick = 1 AND decile >= 1
ORDER BY decile
""",
    tags=("E3", "D1"),
)
def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at decile checkpoints: the share of total spend
    held by the bottom-k-deciles of customers — the curve whose area
    deficit IS d_gini_coefficient's scalar, and the visual every
    inequality/concentration review plots. Checkpoints are the LAST
    rank inside each decile of the (cents, custkey) total order;
    shares in divide-the-divisor ppm. Customer rollup first, one
    ascending running sum.
    """
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents")
    )
    w_ord = Window.orderBy("cents", "o_custkey")
    ranked = spend.select(
        "cents",
        # row_number is 32-bit; rn*10⁶ overflows int under ANSI at
        # sf0.1 (measured) — widen before any multiplication
        F.row_number().over(w_ord).cast("long").alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
        F.sum("cents")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("cents").over(Window.partitionBy()).alias("tot"),
    )
    pick = F.row_number().over(
        Window.partitionBy(F.expr("(rn * 10) div n")).orderBy(F.desc("rn"))
    )
    return (
        ranked.select(
            F.expr("(rn * 10) div n").alias("decile"),
            F.expr("rn * 1000000 div n").alias("pop_share_ppm"),
            F.expr("cum div greatest(tot div 1000000, 1)").alias("spend_share_ppm"),
            pick.alias("pick"),
        )
        .filter((F.col("pick") == 1) & (F.col("decile") >= 1))
        .select("decile", "pop_share_ppm", "spend_share_ppm")
        .orderBy("decile")
    )


@register(
    "a_orc_roundtrip",
    oracle="""
SELECT o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    tags=("A1", "A5"),
)
def a_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip — the second columnar format Spark ships
    natively (predicate pushdown, column pruning and compression all
    apply): orders write to ORC and re-aggregate from the re-read;
    the oracle recomputes from the parquet source, so a green row
    proves the format conversion is LOSSLESS for every type crossed
    (string, timestamp-derived ints, exact cents). DuckDB cannot
    read ORC, which is exactly why the proof routes through
    aggregate equality instead of file-level diffing.
    """
    path = scratch("orc_roundtrip")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    o.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_rows"), F.sum("cents").alias("cents"))
        .orderBy("o_orderpriority")
    )


@register(
    "e_weighted_moving_avg",
    oracle="""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY event_type, h
),
lagged AS (
  SELECT event_type, h, x,
    lag(x, 1) OVER w AS x1, lag(x, 2) OVER w AS x2, lag(x, 3) OVER w AS x3
  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h)
),
wma AS (
  SELECT event_type,
    CAST((4 * x + 3 * x1 + 2 * x2 + 1 * x3) * 1000 // 10 AS BIGINT) AS wma_milli
  FROM lagged WHERE x3 IS NOT NULL
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(wma_milli) AS BIGINT) AS sum_wma_milli,
  CAST(max(wma_milli) AS BIGINT) AS max_wma_milli
FROM wma GROUP BY event_type ORDER BY event_type
""",
    tags=("E2", "E3"),
)
def e_weighted_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-weighted moving average (weights 4·3·2·1 over the
    trailing 4 hours): the smoother that tracks turns faster than
    the SMA because recent observations dominate. Frame-position
    weights have no direct window form, so the four positions come
    from explicit integer lags combined in one expression — exact
    milli-units via a single floor division by the weight total.
    Warm-up rows (missing lag-3) are excluded identically via NULL.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select(
            "event_type",
            epoch_us("ts").alias("us"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        .select("event_type", F.expr("us div 3600000000").alias("h"), "cents")
        .groupBy("event_type", "h")
        .agg(F.sum("cents").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("h")
    lagged = hourly.select(
        "event_type",
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", 2).over(w).alias("x2"),
        F.lag("x", 3).over(w).alias("x3"),
    ).filter(F.col("x3").isNotNull())
    wma = lagged.select(
        "event_type",
        F.expr("(4 * x + 3 * x1 + 2 * x2 + 1 * x3) * 1000 div 10").alias("wma_milli"),
    )
    return (
        wma.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("wma_milli").alias("sum_wma_milli"),
            F.max("wma_milli").alias("max_wma_milli"),
        )
        .orderBy("event_type")
    )
