"""Window-function variants and remaining inventory gaps
(SURVEY.md §2 E2/E3 dedicated entries, rank variants, pivot,
embedding-cosine near-dup dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import fixture_bytes
from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.functions.timeutil import epoch_us
from parking_violations_data_pipeline_spark.functions.vector import cosine_sim
from parking_violations_data_pipeline_spark.registry import register


@register(
    "e_lag_lead",
    oracle="""
SELECT user_id, event_id,
  lag(event_id) OVER w AS prev_event,
  lead(event_id) OVER w AS next_event,
  epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w) AS gap_us
FROM events WHERE ts IS NOT NULL
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, event_id
""",
    tags=("E2",),
)
def e_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: lag/lead analytics — previous/next event and inter-event gap
    per user. event_id added to the window order as tie-break (two
    events can share a timestamp)."""
    # NULL ts has no place in an event-time order (and Spark/DuckDB
    # disagree on NULL ordering defaults): dropped on both sides
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "user_id",
            "event_id",
            F.lag("event_id").over(w).alias("prev_event"),
            F.lead("event_id").over(w).alias("next_event"),
            (epoch_us("ts") - F.lag(epoch_us("ts")).over(w)).alias("gap_us"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "e_running_frames",
    oracle="""
SELECT o_custkey, o_orderkey,
  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
  round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg3,
  count(*) OVER (PARTITION BY o_custkey) AS n_orders
FROM orders ORDER BY o_custkey, o_orderkey
""",
    tags=("E3",),
)
def e_running_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: frame specs — running total (unbounded preceding), 3-row
    moving average, and a whole-partition count, all over one shuffle
    on o_custkey."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round(
                F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)), 2
            ).alias("running_total"),
            F.round(
                F.avg("o_totalprice").over(w.rowsBetween(-2, W.currentRow)), 6
            ).alias("moving_avg3"),
            F.count("*").over(W.partitionBy("o_custkey")).alias("n_orders"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "e_rank_variants",
    oracle="""
SELECT o_orderpriority, o_orderkey,
  dense_rank() OVER w AS drk,
  ntile(4) OVER w AS quartile,
  round(percent_rank() OVER w, 6) AS prk,
  round(cume_dist() OVER w, 6) AS cd
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
ORDER BY o_orderpriority, o_orderkey
""",
    tags=("E1",),
)
def e_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 variants: dense_rank, ntile, percent_rank, cume_dist (unique
    o_orderkey tie-break makes every rank deterministic)."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            F.dense_rank().over(w).alias("drk"),
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("prk"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
        )
        .orderBy("o_orderpriority", "o_orderkey")
    )


@register(
    "e_first_last_value",
    oracle="""
SELECT DISTINCT o_custkey,
  first_value(o_orderkey) OVER w AS first_order,
  last_value(o_orderkey) OVER
    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey
""",
    tags=("E2",),
)
def e_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: first/last order per customer — last_value needs the full
    frame (unbounded following), the classic frame-default trap."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            F.first("o_orderkey").over(w).alias("first_order"),
            F.last("o_orderkey")
            .over(w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
            .alias("last_order"),
        )
        .distinct()
        .orderBy("o_custkey")
    )


@register(
    "d_pivot",
    oracle="""
SELECT l_returnflag,
  round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 2) AS qty_F,
  round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 2) AS qty_O
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
    tags=("D4", "B6"),
)
def d_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: groupBy().pivot() with explicit value list (never let
    pivot scan for distinct values at scale); oracle = conditional
    aggregation, which is exactly what Catalyst lowers pivot to."""
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return (
        p.select(
            "l_returnflag",
            F.coalesce(F.col("F"), F.lit(0.0)).alias("qty_F"),
            F.coalesce(F.col("O"), F.lit(0.0)).alias("qty_O"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "j_embed_neardup_dedup",
    oracle="""
SELECT e.vec_id, e.label FROM embeddings e
WHERE NOT EXISTS (
  SELECT 1 FROM embeddings o
  WHERE o.vec_id < e.vec_id
    AND round(list_inner_product(CAST(o.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
         / (sqrt(list_inner_product(CAST(o.embedding AS DOUBLE[]), CAST(o.embedding AS DOUBLE[])))
            * sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))), 4) > 0.5
)
ORDER BY e.vec_id
""",
    tags=("J6", "J9", "C5"),
)
def j_embed_neardup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup: drop any vector that has a
    lower-id neighbor with cosine > 0.5 (min-id survivor rule) — the
    vector-space twin of text near-dup removal, as an anti-join against
    the similarity pair set. The pair set comes from
    similarity_self_join's exact branch, which carries the exact_cap
    row guard: past ~20k vectors it refuses with an error pointing at
    the LSH scale path rather than silently running O(n²)."""
    from parking_violations_data_pipeline_spark.operators import similarity as S

    e = load_table(spark, sf_dir, "embeddings")
    dup_ids = (
        S.similarity_self_join(e, 0.5)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        e.join(dup_ids, "vec_id", "left_anti")
        .select("vec_id", "label")
        .orderBy("vec_id")
    )


@register(
    "s_append_mode",
    oracle="""
SELECT (SELECT CAST(count(*) AS BIGINT)
        FROM (SELECT date_trunc('hour', ts), event_type FROM events GROUP BY 1, 2)
       ) AS n_batch_groups,
       CAST(0 AS BIGINT) AS n_unmatched, TRUE AS ok
""",
    tags=("I8",),
)
def s_append_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I8: append output mode on a watermarked windowed agg — append
    only emits windows the watermark has closed, so on a finite replay
    the tail windows are withheld in state. How many micro-batches the
    source yields (and hence which windows close) is an engine
    scheduling detail, so the in-plan invariant is semantic: every
    emitted (window, event_type, cnt) row must EXACTLY equal the batch
    answer for that window (no late data exists in a replay →
    n_unmatched anti-join rows == 0). Oracle reproduces the batch
    group count + 0 + TRUE."""
    from parking_violations_data_pipeline_spark.streaming import jobs

    s = jobs.events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count("*").alias("cnt")
    )
    out = jobs.run_available_now(agg, "append", src_bytes=fixture_bytes(sf_dir, "events"))
    emitted = out.select(F.col("w.start").alias("h"), "event_type", "cnt")

    e = load_table(spark, sf_dir, "events")
    batch = e.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count("*").alias("cnt"))
    n_batch = batch.agg(F.count("*").alias("n_batch_groups"))
    n_unmatched = (
        emitted.join(batch, ["h", "event_type", "cnt"], "left_anti")
        .agg(F.count("*").alias("n_unmatched"))
    )
    return (
        n_batch.crossJoin(n_unmatched)
        .select(
            "n_batch_groups",
            "n_unmatched",
            (F.col("n_unmatched") == 0).alias("ok"),
        )
    )


@register(
    "e_resample_gapfill",
    oracle="""
WITH ev AS (
  SELECT user_id, date_trunc('hour', ts) AS h, value FROM events
  WHERE user_id % 15 = 0 AND ts < TIMESTAMP '2024-01-08'
), hourly AS (
  SELECT user_id, h, count(*) AS cnt, round(sum(value), 2) AS sv
  FROM ev GROUP BY user_id, h
), bounds AS (
  SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY user_id
), spine AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
  FROM bounds
)
SELECT s.user_id, s.h, coalesce(hh.cnt, 0) AS cnt,
       last_value(hh.sv IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sv_locf
FROM spine s LEFT JOIN hourly hh ON s.user_id = hh.user_id AND s.h = hh.h
ORDER BY s.user_id, s.h
""",
    tags=("E2", "E3", "H2", "H5"),
)
def e_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap fill: hourly rollup per user over one
    week, densified to a full hourly spine between each user's first
    and last active hour (F.sequence + explode — no driver-side
    calendar), missing hours zero-filled for counts and
    last-observation-carried-forward for the value column (ignorenulls
    last over an unbounded-preceding frame). The spine explode is
    per-key and the window shuffles once on user_id — at 100 TB the
    spine adds rows proportional to key-count x horizon, never a
    cross join against a global calendar."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            (F.col("user_id") % 15 == 0)
            & (F.col("ts") < F.lit("2024-01-08").cast("timestamp"))
        )
        .select("user_id", F.date_trunc("hour", "ts").alias("h"), "value")
    )
    hourly = ev.groupBy("user_id", "h").agg(
        F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sv")
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    w = W.partitionBy("user_id").orderBy("h").rowsBetween(W.unboundedPreceding, 0)
    return (
        spine.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            "h",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            F.last("sv", ignorenulls=True).over(w).alias("sv_locf"),
        )
        .orderBy("user_id", "h")
    )
