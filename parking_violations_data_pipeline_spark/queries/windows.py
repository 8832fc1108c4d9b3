"""E-family entries: window functions and time series.

Lag/lead, running frames, rank variants and first/last values (SURVEY.md
§2 E2/E3), and the time-series composites built on them: rolling,
cumulative and recursive folds, change-point, drift and anomaly
detectors, resampling and gap-filling, drawdowns, burstiness and
interval coverage. Three older entries of other families also live
here: d_pivot, j_embed_neardup_dedup and s_append_mode.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import fixture_bytes, load_table
from parking_violations_data_pipeline_spark.functions.localrel import local_df
from parking_violations_data_pipeline_spark.functions.timeutil import epoch_us, hourly_cents
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


@register(
    "e_path_transitions",
    oracle="""
WITH s AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events WHERE ts IS NOT NULL
)
SELECT src, dst, CAST(count(*) AS BIGINT) AS n
FROM s WHERE dst IS NOT NULL
GROUP BY src, dst ORDER BY n DESC, src, dst LIMIT 15
""",
    tags=("E2", "D1", "F3"),
)
def e_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over per-user event
    sequences (lead window) — the path-mining primitive behind funnel
    discovery and next-event models.

    One shuffle on user_id for the sequence window, then a partial+
    final count on the (src,dst) pair — at 100 TB the pair cardinality
    is tiny (|event_types|²), so the second shuffle moves counters,
    not events. (ts, event_id) total order makes ties deterministic.
    """
    # NULL event times can't be sequenced: dropped on both sides
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "src", "dst")
        .limit(15)
    )


@register(
    "e_rolling_corr",
    oracle="""
WITH s AS (
  SELECT event_type, event_id,
    corr(value, CAST(epoch_us(ts) AS DOUBLE))
      OVER (PARTITION BY event_type ORDER BY epoch_us(ts), event_id
            ROWS BETWEEN 99 PRECEDING AND CURRENT ROW) AS c,
    count(*) OVER (PARTITION BY event_type ORDER BY epoch_us(ts), event_id
            ROWS BETWEEN 99 PRECEDING AND CURRENT ROW) AS nw
  FROM events
)
SELECT event_type, event_id, round(c, 3) AS corr_100
FROM s WHERE event_id % 500 = 0 AND nw = 100
ORDER BY event_type, event_id
""",
    tags=("D8", "E3"),
)
def e_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling correlation: corr(value, time) over a trailing 100-row
    frame per event type — drift detection as a window aggregate (D8's
    corr crossed with E3's frames), sampled at every 500th event id
    with full frames only.

    The frame rides one shuffle on event_type with a (µs, event_id)
    total order; corr is computed from co-moments inside the JVM.
    3-dp rounding absorbs the engines' summation-order ulps.
    """
    e = load_table(spark, sf_dir, "events")
    us = epoch_us("ts")
    # Builtin corr ABORTS under ANSI when a frame has zero variance
    # (DuckDB's returns NULL), so build corr from windowed co-moments
    # with try_divide. Numerics: time is centered on the partition min
    # and rescaled to seconds before squaring — epoch-µs magnitudes
    # would otherwise cancel catastrophically in n·Σt² − (Σt)²; both
    # transforms are affine, which leaves corr unchanged.
    wp = W.partitionBy("event_type")
    base = e.select(
        "event_type",
        "event_id",
        F.col("value").alias("x"),
        us.alias("us_raw"),
    ).withColumn(
        "t", ((F.col("us_raw") - F.min("us_raw").over(wp)) / 1e6)
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("us_raw", "event_id")
        .rowsBetween(-99, 0)
    )
    n = F.count("*").over(w).cast("double")
    sx = F.sum("x").over(w)
    st = F.sum("t").over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    stt = F.sum(F.col("t") * F.col("t")).over(w)
    sxt = F.sum(F.col("x") * F.col("t")).over(w)
    corr = F.try_divide(
        n * sxt - sx * st,
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * stt - st * st),
    )
    s = base.select(
        "event_type",
        "event_id",
        corr.alias("c"),
        F.count("*").over(w).alias("nw"),
    )
    return (
        s.filter((F.col("event_id") % 500 == 0) & (F.col("nw") == 100))
        .select("event_type", "event_id", F.round("c", 3).alias("corr_100"))
        .orderBy("event_type", "event_id")
    )


@register(
    "e_session_duration_percentiles",
    oracle="""
WITH s AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS brk
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, sid, epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us,
         count(*) AS n_ev
  FROM (SELECT user_id, ts,
               -- ROWS frame: default RANGE merges tied/all-NULL ts peers
               CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        FROM s)
  GROUP BY user_id, sid
)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
  CAST(round(quantile_cont(dur_us, 0.5)) AS BIGINT)  AS p50_us,
  CAST(round(quantile_cont(dur_us, 0.9)) AS BIGINT)  AS p90_us,
  CAST(round(quantile_cont(dur_us, 0.99)) AS BIGINT) AS p99_us,
  round(avg(CAST(n_ev AS DOUBLE)), 4)                AS avg_events
FROM sess
""",
    tags=("E2", "E3", "D5", "I4"),
)
def e_session_duration_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration distribution: the 30-min-gap sessionization
    (q_sessionize's shape) composed with exact interpolated
    percentiles over the derived durations — the latency-style SLO
    readout (p50/p90/p99 session length) computed from event streams.

    The gaps-and-islands windows ride one user_id shuffle; the
    percentile runs over the (much smaller) session grain. Durations
    in integer µs; the interpolated percentile is rounded to whole µs
    on both engines.
    """
    # NULL event times sit outside every session: dropped both sides
    e = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts")
        .filter(F.col("ts").isNotNull())
    )
    w = W.partitionBy("user_id").orderBy("ts")
    us = epoch_us("ts")
    gap = us - F.lag(us).over(w)
    brk = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    sess = (
        e.withColumn("brk", brk)
        .withColumn(
            "sid", F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, 0))
        )
        .groupBy("user_id", "sid")
        .agg(
            (epoch_us(F.max("ts")) - epoch_us(F.min("ts"))).alias("dur_us"),
            F.count("*").alias("n_ev"),
        )
    )
    return sess.agg(
        F.count("*").alias("n_sessions"),
        F.round(F.percentile("dur_us", 0.5)).cast("long").alias("p50_us"),
        F.round(F.percentile("dur_us", 0.9)).cast("long").alias("p90_us"),
        F.round(F.percentile("dur_us", 0.99)).cast("long").alias("p99_us"),
        F.round(F.avg(F.col("n_ev").cast("double")), 4).alias("avg_events"),
    )


@register(
    "e_mann_whitney",
    oracle="""
WITH s AS (
  SELECT round(value, 2) AS v,
         CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS early
  FROM events WHERE event_type = 'purchase'
),
per AS (
  SELECT v, CAST(sum(early) AS BIGINT) AS c1,
         CAST(sum(1 - early) AS BIGINT) AS c2
  FROM s GROUP BY v
),
ranked AS (
  SELECT c1, c2,
    coalesce(sum(c1 + c2) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
    c1 + c2 AS cnt
  FROM per
),
agg AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
         sum(c1 * (below + (cnt + 1) / 2.0)) AS r1
  FROM ranked
)
SELECT n1, n2,
  round(r1 - n1 * (n1 + 1) / 2.0, 1) AS u1,
  round((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
        / sqrt(n1 * n2 * (n1 + n2 + 1) / 12.0), 4) AS z_score
FROM agg
""",
    tags=("D1", "E3", "J2"),
)
def e_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between the month's two halves —
    the nonparametric location-shift alarm that works where KS reacts
    to any shape change and PSI needs binning. Completes the drift
    triad (d_ks_drift, d_psi_drift).

    Tied values get midranks via the distinct-value grain: rank mass
    below + (tie-block size + 1)/2, all integer arithmetic until the
    final two divisions — so both engines agree exactly before the
    rounding. Same scale shape as KS: one shuffle to distinct values,
    prefix-sum over the compressed series.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    s = e.select(
        F.round("value", 2).alias("v"),
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0).alias("early"),
    )
    per = s.groupBy("v").agg(
        F.sum("early").alias("c1"),
        F.sum(1 - F.col("early")).alias("c2"),
    )
    wprev = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    ranked = per.select(
        "c1",
        "c2",
        F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(wprev), F.lit(0)).alias(
            "below"
        ),
        (F.col("c1") + F.col("c2")).alias("cnt"),
    )
    agg = ranked.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(F.col("c1") * (F.col("below") + (F.col("cnt") + 1) / 2.0)).alias("r1"),
    )
    n1, n2, r1 = F.col("n1"), F.col("n2"), F.col("r1")
    u1 = r1 - n1 * (n1 + 1) / 2.0
    return agg.select(
        "n1",
        "n2",
        F.round(u1, 1).alias("u1"),
        # try_divide: an absent sample (n1·n2 = 0) has no U sampling
        # distribution — NULL like DuckDB /0, not an ANSI abort
        F.round(
            F.try_divide(
                u1 - n1 * n2 / 2.0,
                F.sqrt(n1 * n2 * (n1 + n2 + 1) / 12.0),
            ),
            4,
        ).alias("z_score"),
    )


@register(
    "e_locf_interpolate",
    oracle="""
WITH obs AS (
  SELECT user_id, epoch_us(ts) // 3600000000 AS h,
         round(avg(value), 4) AS v
  FROM events
  WHERE event_type = 'purchase' AND user_id <= 40
  GROUP BY 1, 2
),
span AS (
  SELECT user_id, min(h) AS h0, max(h) AS h1 FROM obs GROUP BY user_id
),
spine AS (
  SELECT user_id, unnest(generate_series(h0, h1)) AS h FROM span
),
series AS (
  SELECT s.user_id, s.h, o.v FROM spine s
  LEFT JOIN obs o ON o.user_id = s.user_id AND o.h = s.h
),
filled AS (
  SELECT user_id, h, v,
    last_value(v IGNORE NULLS) OVER w_prev  AS prev_v,
    last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER w_prev AS prev_h,
    first_value(v IGNORE NULLS) OVER w_next AS next_v,
    first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER w_next AS next_h
  FROM series
  WINDOW
    w_prev AS (PARTITION BY user_id ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_next AS (PARTITION BY user_id ORDER BY h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id,
  CAST(count(*) AS BIGINT)      AS n_hours,
  CAST(count(v) AS BIGINT)      AS n_obs,
  ((CAST(sum(CAST(round(prev_v * 10000) AS BIGINT)) AS BIGINT) + 50) // 100)
    / 100.0                     AS locf_sum,
  ((CAST(sum(CAST(round((CASE
    WHEN v IS NOT NULL THEN v
    WHEN prev_v IS NULL THEN next_v
    WHEN next_v IS NULL THEN prev_v
    ELSE prev_v + (next_v - prev_v) * (h - prev_h) * 1.0 / (next_h - prev_h)
  END) * 10000) AS BIGINT)) AS BIGINT) + 50) // 100) / 100.0
                                AS interp_sum
FROM filled GROUP BY user_id ORDER BY user_id
""",
    tags=("E2", "E3", "H2"),
)
def e_locf_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value imputation over a generated hourly spine:
    last-observation-carried-forward AND two-sided linear
    interpolation, the two standard fills for sensor/feature series
    before they feed a model.

    The spine is sequence(min_hour, max_hour) exploded per user (no
    calendar table needed); the left join re-attaches observations;
    both fills come from TWO window passes over ONE user_id shuffle —
    forward (last ignoreNulls) and backward (first ignoreNulls over
    the following frame). Interpolation is position-aware: it weights
    by distance between the bracketing observed hours, not by row
    index. Epoch-hour integers keep the time axis exact on both
    engines; per-hour values are rounded before the fills so summation
    stays on identical inputs.
    """
    e = load_table(spark, sf_dir, "events")
    obs = (
        e.filter((F.col("event_type") == "purchase") & (F.col("user_id") <= 40))
        .groupBy(
            "user_id",
            (epoch_us(F.col("ts")) / 3_600_000_000).cast("long").alias("h"),
        )
        .agg(F.round(F.avg("value"), 4).alias("v"))
    )
    span = obs.groupBy("user_id").agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = span.select(
        "user_id", F.explode(F.sequence("h0", "h1")).alias("h")
    )
    series = spine.join(obs, ["user_id", "h"], "left")
    w_prev = (
        W.partitionBy("user_id").orderBy("h").rowsBetween(W.unboundedPreceding, 0)
    )
    w_next = (
        W.partitionBy("user_id").orderBy("h").rowsBetween(0, W.unboundedFollowing)
    )
    obs_h = F.when(F.col("v").isNotNull(), F.col("h"))
    filled = series.select(
        "user_id",
        "h",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.last(obs_h, ignorenulls=True).over(w_prev).alias("prev_h"),
        F.first("v", ignorenulls=True).over(w_next).alias("next_v"),
        F.first(obs_h, ignorenulls=True).over(w_next).alias("next_h"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .otherwise(
            F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * (F.col("h") - F.col("prev_h"))
            / (F.col("next_h") - F.col("prev_h"))
        )
    )
    # Sum exact integer ten-thousandths, not doubles: a double sum near a
    # .xx5 boundary flips the 2-decimal rounding with accumulation order,
    # and even a bigint-exact sum diverges if the FINAL round() runs on a
    # double (Spark rounds the shortest-string decimal, DuckDB the raw
    # binary — they disagree just below .xx5). So the cent-rounding is
    # integer arithmetic too: (units + 50) div 100, values are >= 0.
    locf_units = F.round(F.col("prev_v") * 10000, 0).cast("long")
    interp_units = F.round(interp * 10000, 0).cast("long")
    return (
        filled.groupBy("user_id")
        .agg(
            F.count("*").alias("n_hours"),
            F.count("v").alias("n_obs"),
            F.sum(locf_units).alias("_locf_u"),
            F.sum(interp_units).alias("_interp_u"),
        )
        .select(
            "user_id",
            "n_hours",
            "n_obs",
            (F.expr("(_locf_u + 50) div 100") / 100.0).alias("locf_sum"),
            (F.expr("(_interp_u + 50) div 100") / 100.0).alias("interp_sum"),
        )
        .orderBy("user_id")
    )


@register(
    "e_value_streaks",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
    CASE WHEN event_type IS DISTINCT FROM
      lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
    THEN 1 ELSE 0 END AS brk
  FROM events WHERE ts IS NOT NULL
),
runs AS (
  SELECT user_id, event_type,
    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM flagged
),
run_lengths AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS run_len
  FROM runs GROUP BY user_id, event_type, run_id
)
SELECT event_type,
  CAST(count(*) AS BIGINT)  AS n_runs,
  CAST(max(run_len) AS BIGINT) AS max_run,
  round(avg(run_len), 4)    AS avg_run
FROM run_lengths GROUP BY event_type ORDER BY event_type
""",
    tags=("E2", "E3"),
)
def e_value_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-value streaks (conditional change events): how many
    runs of identical consecutive event_type each stream contains, and
    how long they get — the repetition signal behind bot detection and
    session-quality scoring.

    The classic islands trick at value grain: a change flag via lag,
    a running sum of flags numbering the runs, then two aggregations.
    Everything after the first window rides the SAME user_id shuffle;
    the (ts, event_id) tie-break gives a total order so run boundaries
    are identical on both engines.
    """
    # streak order is event time: NULL ts dropped on both sides
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            ~F.col("event_type").eqNullSafe(F.lag("event_type").over(w)), 1
        )
        .otherwise(0)
        .alias("brk"),
    )
    runs = flagged.select(
        "user_id",
        "event_type",
        F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("run_id"),
    )
    run_lengths = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.count("*").alias("run_len")
    )
    return (
        run_lengths.groupBy("event_type")
        .agg(
            F.count("*").alias("n_runs"),
            F.max("run_len").alias("max_run"),
            F.round(F.avg("run_len"), 4).alias("avg_run"),
        )
        .orderBy("event_type")
    )


DAY_US = 86_400_000_000


@register(
    "e_rolling_active_users",
    oracle=f"""
WITH active AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {DAY_US} AS day_id FROM events
),
bound AS (SELECT max(day_id) AS max_day FROM active),
contrib AS (
  SELECT DISTINCT user_id, d FROM (
    SELECT a.user_id,
           unnest(generate_series(a.day_id, least(a.day_id + 6, b.max_day))) AS d
    FROM active a, bound b
  )
),
wau AS (
  SELECT d AS day_id, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
  FROM contrib GROUP BY d
),
dau AS (
  SELECT day_id, CAST(count(*) AS BIGINT) AS dau FROM active GROUP BY day_id
)
SELECT w.day_id, w.wau, coalesce(d.dau, 0) AS dau,
       round(coalesce(d.dau, 0) * 1.0 / w.wau, 4) AS stickiness
FROM wau w LEFT JOIN dau d ON w.day_id = d.day_id
ORDER BY w.day_id
""",
    tags=("E3", "D2", "G3"),
)
def e_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day (the WAU curve) — the
    metric SQL wants as `count(DISTINCT) OVER (RANGE 7 days)`, which
    neither Spark nor most engines support. The scalable rewrite:
    dedup to (user, day) grain first, then each active day CONTRIBUTES
    to the 7 days it keeps the user active for (a bounded explode,
    blow-up factor exactly 7), dedup contributions, count per day.
    Work is O(active_pairs × 7) regardless of raw event volume —
    the heavy dedup happens at the compressed grain.

    DAU rides the same `active` frame; stickiness = DAU/WAU is the
    daily engagement ratio. The spine is clipped to max_day so partial
    trailing windows at the right edge aren't reported.
    """
    e = load_table(spark, sf_dir, "events")
    active = e.select(
        "user_id", (epoch_us(F.col("ts")) / DAY_US).cast("long").alias("day_id")
    ).distinct()
    bound = active.agg(F.max("day_id").alias("max_day"))
    contrib = (
        active.crossJoin(F.broadcast(bound))
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("day_id"), F.least(F.col("day_id") + 6, F.col("max_day"))
                )
            ).alias("d"),
        )
        .distinct()
    )
    wau = contrib.groupBy(F.col("d").alias("day_id")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    dau = active.groupBy("day_id").agg(F.count("*").alias("dau"))
    return (
        wau.join(dau, "day_id", "left")
        .select(
            "day_id",
            "wau",
            F.coalesce("dau", F.lit(0)).alias("dau"),
            F.round(
                F.coalesce("dau", F.lit(0)) / F.col("wau"), 4
            ).alias("stickiness"),
        )
        .orderBy("day_id")
    )


@register(
    "e_ewma_fold",
    oracle="""
WITH p AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
         CAST(round(value * 10000) AS BIGINT) AS units
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
),
folded AS (
  SELECT user_id,
    CAST(count(*) AS BIGINT) AS n,
    CAST(list_reduce(
      list_prepend(0, list(units ORDER BY us, event_id)),
      (acc, x) -> (x + acc) // 2
    ) AS BIGINT) AS ewma_units
  FROM p GROUP BY user_id
)
SELECT user_id, n, ewma_units FROM folded ORDER BY user_id
""",
    tags=("E3", "H5", "K2"),
)
def e_ewma_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α = 1/2) per user — a
    RECURSIVE statistic (sᵢ = (xᵢ + sᵢ₋₁) div 2) that no window frame
    expresses. The scalable rewrite: gather each key's ordered series
    into an array (bounded by per-key cardinality, not corpus) and run
    the recursion as a higher-order `aggregate` fold — JVM-side,
    zero Python, and exactly the shape `applyInPandas` would take over
    keys too large for one array. Integer micro-units with floor
    division keep all iteration states bit-exact on both engines
    (DuckDB folds the same list with list_reduce).

    (x + acc)/2 stays below 2⁵³, so the float floor is exact and
    equals the oracle's integer //.
    """
    # the fold's order key is event time: NULL ts dropped both sides
    e = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    )
    p = e.select(
        "user_id",
        epoch_us(F.col("ts")).alias("us"),
        "event_id",
        F.round(F.col("value") * 10000, 0).cast("long").alias("units"),
    )
    series = p.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("us", "event_id", "units"))),
            lambda s: s["units"],
        ).alias("xs"),
    )
    fold = F.aggregate(
        "xs",
        F.lit(0).cast("long"),
        lambda acc, x: F.floor((x + acc) / 2).cast("long"),
    )
    return series.select(
        "user_id", "n", fold.alias("ewma_units")
    ).orderBy("user_id")


@register(
    "e_nth_value_window",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
    CASE WHEN event_type = 'purchase'
         THEN CAST(round(value * 100, 0) AS BIGINT) END AS p_cents
  FROM events WHERE ts IS NOT NULL
),
ordered AS (
  SELECT user_id, p_cents,
    row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn,
    CASE WHEN p_cents IS NOT NULL THEN
      row_number() OVER (PARTITION BY user_id, p_cents IS NOT NULL
                         ORDER BY us, event_id) END AS nn_rn
  FROM e
),
per_user AS (
  SELECT user_id,
    max(CASE WHEN rn = 2 THEN p_cents END)    AS second_cents,
    max(CASE WHEN rn = 3 THEN p_cents END)    AS third_cents,
    max(CASE WHEN nn_rn = 1 THEN p_cents END) AS first_nn_cents,
    max_by(p_cents, nn_rn) FILTER (WHERE nn_rn IS NOT NULL) AS last_nn_cents,
    CAST(count(*) AS BIGINT) AS n_events
  FROM ordered GROUP BY user_id
)
SELECT
  CAST(count(*) AS BIGINT)                          AS n_users,
  CAST(count(second_cents) AS BIGINT)               AS n_second,
  CAST(sum(second_cents) AS BIGINT)                 AS sum_second,
  CAST(sum(third_cents) AS BIGINT)                  AS sum_third,
  CAST(sum(first_nn_cents) AS BIGINT)               AS sum_first_nn,
  CAST(sum(last_nn_cents) AS BIGINT)                AS sum_last_nn,
  CAST(sum(n_events) AS BIGINT)                     AS n_events
FROM per_user
""",
    tags=("E2", "E3"),
)
def e_nth_value_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional window functions: nth_value(·, 2|3) over the full
    partition frame, and first/last with ignoreNulls over a sparse
    (purchase-only) column — the "second touch value" / "latest known
    price" shapes. One user_id shuffle serves every window; the final
    global rollup keeps the output a single hashable row.

    The value column is NULL for every non-purchase event, so the
    ignore-nulls pair proves frame-wide null skipping, not just frame
    endpoints. Oracle reproduces nth-value as row_number + conditional
    max and ignore-nulls as a rank over the non-null subsequence.
    Ties on ts are broken by event_id on both sides (total order).
    """
    # positional windows need a total event-time order: NULL ts
    # dropped on both sides
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    p_cents = (
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100, 0).cast("long"),
        )
    ).alias("p_cents")
    base = e.select("user_id", epoch_us("ts").alias("us"), "event_id", p_cents)
    w = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    w_cur = W.partitionBy("user_id").orderBy("us", "event_id")
    per_event = base.select(
        "user_id",
        F.nth_value("p_cents", 2).over(w).alias("second_cents"),
        F.nth_value("p_cents", 3).over(w).alias("third_cents"),
        F.first("p_cents", ignorenulls=True).over(w).alias("first_nn_cents"),
        F.last("p_cents", ignorenulls=True).over(w).alias("last_nn_cents"),
        F.row_number().over(w_cur).alias("rn"),
        F.count("*").over(w).alias("n_events"),
    )
    per_user = per_event.filter(F.col("rn") == 1)
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("second_cents").alias("n_second"),
        F.sum("second_cents").alias("sum_second"),
        F.sum("third_cents").alias("sum_third"),
        F.sum("first_nn_cents").alias("sum_first_nn"),
        F.sum("last_nn_cents").alias("sum_last_nn"),
        F.sum("n_events").alias("n_events"),
    )


@register(
    "e_rolling_median",
    oracle="""
WITH e AS (
  SELECT event_type, epoch_us(ts) AS us, event_id,
    CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('purchase', 'click') AND ts IS NOT NULL
),
med AS (
  SELECT event_type,
    median(cents) OVER (PARTITION BY event_type ORDER BY us, event_id
                        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS m
  FROM e
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(m * 2 AS BIGINT)) AS BIGINT) AS sum_2x_med,
  CAST(max(CAST(m * 2 AS BIGINT)) AS BIGINT) AS max_2x_med
FROM med GROUP BY event_type ORDER BY event_type
""",
    tags=("E3", "D5"),
)
def e_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median over a bounded 5-row frame — an arbitrary
    aggregate used AS a window function (percentile/median has no
    incremental frame update, so the engine re-evaluates per frame;
    bounded frames keep that O(frame) per row, which is why
    production rolling-median always fixes the frame). Exactness:
    cents are integers, the even-count median is the midpoint of two
    integers, so 2×median is always integral — both engines emit it
    bit-exactly; ties on ts break by event_id (total order).
    """
    e = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("purchase", "click")
            & F.col("ts").isNotNull()  # rolling frame is event-time-ordered
        )
        .select(
            "event_type",
            epoch_us("ts").alias("us"),
            "event_id",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("us", "event_id")
        .rowsBetween(-4, W.currentRow)
    )
    med = e.select(
        "event_type",
        F.percentile(F.col("cents"), F.lit(0.5)).over(w).alias("m"),
    )
    two_m = (F.col("m") * 2).cast("long")
    return (
        med.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(two_m).alias("sum_2x_med"),
            F.max(two_m).alias("max_2x_med"),
        )
        .orderBy("event_type")
    )


@register(
    "e_changepoint_meanshift",
    oracle="""
WITH hourly AS (
  SELECT epoch_us(ts) // 3600000000 AS h,
    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
    CAST(count(*) AS BIGINT) AS n
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL GROUP BY h
),
idx AS (
  SELECT h, cents, n,
    row_number() OVER (ORDER BY h) AS t,
    sum(cents) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c,
    sum(n) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
    sum(cents) OVER () AS tot_c,
    sum(n) OVER () AS tot_n,
    count(*) OVER () AS n_hours
  FROM hourly
),
cand AS (
  SELECT h, t,
    abs((cum_c * (tot_n - cum_n)) - ((tot_c - cum_c) * cum_n)) AS num,
    cum_n * (tot_n - cum_n) AS den
  FROM idx WHERE t < n_hours AND cum_n > 0 AND tot_n > cum_n
),
best AS (
  SELECT h, CAST(num * 100 // den AS BIGINT) AS shift_centicents,
    row_number() OVER (ORDER BY num * 1000 // den DESC, h) AS pick
  FROM cand
)
SELECT CAST(h AS BIGINT) AS split_hour, shift_centicents
FROM best WHERE pick = 1
""",
    tags=("E3", "D1"),
)
def e_changepoint_meanshift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point detection: the split hour maximizing the absolute
    mean-shift |mean(before) − mean(after)| of purchase value. The
    argmax compares mean differences as FRACTIONS via
    cross-multiplication (|cum_c·(totN−cumN) − (tot_c−cum_c)·cumN|
    against cumN·(totN−cumN)) scaled to a common integer grid — a
    double-valued argmax could flip between engines on ulps; integer
    cross-products cannot. One running-sum pass over the compressed
    hourly series (the d_ks_drift shape: windows at aggregated
    grain, never event grain), total-order tie-break on hour.
    """
    # the hourly series is indexed by event time: NULL ts has no
    # hour — dropped on both sides
    e = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    )
    hourly = (
        e.select(
            epoch_us("ts").alias("us"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        .select(F.expr("us div 3600000000").alias("h"), "cents")
        .groupBy("h")
        .agg(F.sum("cents").alias("cents"), F.count("*").alias("n"))
    )
    w_cum = W.orderBy("h").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy()
    idx = hourly.select(
        "h",
        F.row_number().over(W.orderBy("h")).alias("t"),
        F.sum("cents").over(w_cum).alias("cum_c"),
        F.sum("n").over(w_cum).alias("cum_n"),
        F.sum("cents").over(w_all).alias("tot_c"),
        F.sum("n").over(w_all).alias("tot_n"),
        F.count("*").over(w_all).alias("n_hours"),
    )
    cand = idx.filter(
        (F.col("t") < F.col("n_hours")) & (F.col("cum_n") > 0) & (F.col("tot_n") > F.col("cum_n"))
    ).select(
        "h",
        F.abs(
            F.col("cum_c") * (F.col("tot_n") - F.col("cum_n"))
            - (F.col("tot_c") - F.col("cum_c")) * F.col("cum_n")
        ).alias("num"),
        (F.col("cum_n") * (F.col("tot_n") - F.col("cum_n"))).alias("den"),
    )
    pick = F.row_number().over(W.orderBy(F.expr("num * 1000 div den").desc(), "h"))
    return (
        cand.select(
            "h",
            F.expr("num * 100 div den").alias("shift_centicents"),
            pick.alias("pick"),
        )
        .filter(F.col("pick") == 1)
        .select(F.col("h").cast("long").alias("split_hour"), "shift_centicents")
    )


@register(
    "e_cusum_alarms",
    oracle="""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL GROUP BY event_type, h
),
keyed AS (
  SELECT event_type,
    CAST(sum(cents) // count(*) AS BIGINT) AS k,
    list(cents ORDER BY h) AS xs,
    CAST(count(*) AS BIGINT) AS n_hours
  FROM hourly GROUP BY event_type
),
folded AS (
  SELECT event_type, n_hours, k,
    list_reduce(
      list_prepend(CAST(0 AS BIGINT), xs),
      (acc, x) -> CASE
        WHEN greatest(CAST(0 AS BIGINT), acc // 65536 + x - k) > 2 * k
        THEN greatest(CAST(0 AS BIGINT), acc // 65536 + x - k) * 65536
             + acc % 65536 + 1
        ELSE greatest(CAST(0 AS BIGINT), acc // 65536 + x - k) * 65536
             + acc % 65536
      END
    ) AS packed
  FROM keyed
)
SELECT event_type, n_hours, k AS mean_hourly_cents,
  CAST(packed // 65536 AS BIGINT) AS final_s,
  CAST(packed % 65536 AS BIGINT) AS n_alarms
FROM folded ORDER BY event_type
""",
    tags=("E3", "H5", "D1"),
)
def e_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detector per event type: sᵢ = max(0, sᵢ₋₁ + xᵢ − k)
    over the hourly series (k = the series' own mean), alarm whenever
    s exceeds 2k — the classic sequential change detector that a
    window frame cannot express (the reset-at-zero recursion). The
    fold runs as a higher-order aggregate over each key's ordered
    hourly array (the e_ewma_fold shape: array bounded by hours, not
    events), with the two-field state (s, alarm count) PACKED into
    one bigint (s·2¹⁶ + alarms — alarms bounded by hours < 2¹⁶) so
    both engines fold the identical single-integer recurrence.
    """
    # hourly series is event-time-indexed: NULL ts dropped both sides
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hourly = hourly_cents(e)
    keyed = hourly.groupBy("event_type").agg(
        F.expr("sum(cents) div count(*)").alias("k"),
        F.expr(
            "transform(array_sort(collect_list(struct(h, cents))), s -> s.cents)"
        ).alias("xs"),
        F.count("*").alias("n_hours"),
    )
    folded = keyed.select(
        "event_type",
        "n_hours",
        F.col("k").alias("mean_hourly_cents"),
        F.expr(
            "aggregate(xs, cast(0 as bigint), (acc, x) -> CASE"
            " WHEN greatest(cast(0 as bigint), acc div 65536 + x - k) > 2 * k"
            " THEN greatest(cast(0 as bigint), acc div 65536 + x - k) * 65536"
            "      + acc % 65536 + 1"
            " ELSE greatest(cast(0 as bigint), acc div 65536 + x - k) * 65536"
            "      + acc % 65536 END)"
        ).alias("packed"),
    )
    return folded.select(
        "event_type",
        "n_hours",
        "mean_hourly_cents",
        F.expr("packed div 65536").alias("final_s"),
        F.expr("packed % 65536").alias("n_alarms"),
    ).orderBy("event_type")


@register(
    "e_peak_detection",
    oracle="""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, h
),
lagged AS (
  SELECT event_type, h, cents,
    lag(cents)  OVER (PARTITION BY event_type ORDER BY h) AS prv,
    lead(cents) OVER (PARTITION BY event_type ORDER BY h) AS nxt
  FROM hourly
),
peaks AS (
  SELECT event_type, h, cents
  FROM lagged WHERE prv IS NOT NULL AND nxt IS NOT NULL
    AND cents > prv AND cents > nxt
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_peaks,
  CAST(max(cents) AS BIGINT) AS top_peak_cents,
  CAST(max(cents) * 10000000 - max(cents * 10000000 - h) AS BIGINT) AS top_peak_hour
FROM peaks GROUP BY event_type ORDER BY event_type
""",
    tags=("E2", "D1"),
)
def e_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local peak detection on the hourly revenue series: interior
    hours strictly greater than both neighbors (lag/lead on one
    event_type shuffle at HOURLY grain — the series is aggregated
    before any window touches it). The top peak's hour comes from an
    integer PACKING argmax (max(cents·10⁷ − h) unpacked against
    max(cents)) so equal-valued peaks break toward the earliest hour
    identically on both engines without a struct-ordered min_by.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = hourly_cents(e)
    w = W.partitionBy("event_type").orderBy("h")
    lagged = hourly.select(
        "event_type", "h", "cents",
        F.lag("cents").over(w).alias("prv"),
        F.lead("cents").over(w).alias("nxt"),
    )
    peaks = lagged.filter(
        F.col("prv").isNotNull()
        & F.col("nxt").isNotNull()
        & (F.col("cents") > F.col("prv"))
        & (F.col("cents") > F.col("nxt"))
    )
    return (
        peaks.groupBy("event_type")
        .agg(
            F.count("*").alias("n_peaks"),
            F.max("cents").alias("top_peak_cents"),
            F.expr(
                "max(cents) * 10000000 - max(cents * 10000000 - h)"
            ).alias("top_peak_hour"),
        )
        .orderBy("event_type")
    )


@register(
    "e_autocorrelation",
    oracle="""
WITH hourly AS (
  SELECT epoch_us(ts) // 3600000000 AS h,
    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY h
),
lagged AS (
  SELECT 1 AS lag_k, cents AS x, lag(cents, 1) OVER (ORDER BY h) AS y FROM hourly
  UNION ALL
  SELECT 2, cents, lag(cents, 2) OVER (ORDER BY h) FROM hourly
  UNION ALL
  SELECT 3, cents, lag(cents, 3) OVER (ORDER BY h) FROM hourly
),
pairs AS (SELECT lag_k, x, y FROM lagged WHERE y IS NOT NULL),
stats AS (
  SELECT lag_k,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
    CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pairs GROUP BY lag_k
)
SELECT CAST(lag_k AS BIGINT) AS lag_k, n,
  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
    / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
         * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) AS acf_r
FROM stats ORDER BY lag_k
""",
    tags=("E2", "D8"),
)
def e_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1-3) of the hourly purchase
    series — the seasonality/momentum diagnostic. Sufficient
    statistics (n, Σx, Σy, Σx², Σy², Σxy) accumulate as EXACT
    bigints over lag-paired rows (the d_ttest_welch discipline:
    floating point only in the final closed-form expression, with an
    identical operation sequence on both engines, then one shared
    round). The lag pairing runs per-k on the compressed hourly
    series — three tiny windows, not three scans of events.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    hourly = (
        e.select(
            epoch_us("ts").alias("us"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        .select(F.expr("us div 3600000000").alias("h"), "cents")
        .groupBy("h")
        .agg(F.sum("cents").alias("cents"))
    )
    w = W.orderBy("h")
    branches = [
        hourly.select(
            F.lit(k).alias("lag_k"),
            F.col("cents").alias("x"),
            F.lag("cents", k).over(w).alias("y"),
        )
        for k in (1, 2, 3)
    ]
    lagged = branches[0].unionByName(branches[1]).unionByName(branches[2])
    pairs = lagged.filter(F.col("y").isNotNull())
    stats = pairs.groupBy("lag_k").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
        F.sum(F.expr("x * y")).alias("sxy"),
    )
    return stats.select(
        F.col("lag_k").cast("long").alias("lag_k"),
        "n",
        # try_divide: a zero-variance (or too-short) series has no
        # autocorrelation — NULL like DuckDB /0, not an ANSI abort
        F.round(
            F.try_divide(
                F.col("n").cast("double") * F.col("sxy")
                - F.col("sx").cast("double") * F.col("sy"),
                F.sqrt(
                    (
                        F.col("n").cast("double") * F.col("sxx")
                        - F.col("sx").cast("double") * F.col("sx")
                    )
                    * (
                        F.col("n").cast("double") * F.col("syy")
                        - F.col("sy").cast("double") * F.col("sy")
                    )
                ),
            ),
            6,
        ).alias("acf_r"),
    ).orderBy("lag_k")


@register(
    "e_max_drawdown",
    oracle="""
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS d,
    CAST(sum(CASE WHEN event_type = 'purchase'
        THEN CAST(round(value * 100, 0) AS BIGINT)
        ELSE -CAST(round(value * 100, 0) AS BIGINT) END) AS BIGINT) AS net_cents
  FROM events WHERE event_type IN ('purchase', 'error') AND ts IS NOT NULL
  GROUP BY d
),
cums AS (
  SELECT d,
    sum(net_cents) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM daily
),
curve AS (
  SELECT d, cum,
    max(cum) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS high_water
  FROM cums
)
SELECT
  CAST(count(*) AS BIGINT) AS n_days,
  CAST(max(high_water) AS BIGINT) AS peak_cents,
  CAST(max(high_water - cum) AS BIGINT) AS max_drawdown_cents,
  CAST(min(cum) AS BIGINT) AS trough_cents
FROM curve
""",
    tags=("E3", "D1"),
)
def e_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily net-revenue curve (purchases
    credit, errors debit): the largest peak-to-trough fall of the
    cumulative series — the risk metric every treasury/trading
    dashboard carries. Two stacked windows on ONE ordered pass
    (running sum, then running max of it); all integer cents, the
    windows run at daily grain after aggregation.
    """
    # the daily curve is event-time-indexed: NULL ts dropped both sides
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
        & F.col("ts").isNotNull()
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    daily = (
        e.select(
            epoch_us("ts").alias("us"),
            F.when(F.col("event_type") == "purchase", cents).otherwise(-cents).alias("net"),
        )
        .select(F.expr("us div 86400000000").alias("d"), "net")
        .groupBy("d")
        .agg(F.sum("net").alias("net_cents"))
    )
    w = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    curve = daily.select(
        "d",
        F.sum("net_cents").over(w).alias("cum"),
    ).select("d", "cum", F.max("cum").over(w).alias("high_water"))
    return curve.agg(
        F.count("*").alias("n_days"),
        F.max("high_water").alias("peak_cents"),
        F.max(F.col("high_water") - F.col("cum")).alias("max_drawdown_cents"),
        F.min("cum").alias("trough_cents"),
    )


@register(
    "e_interval_union_coverage",
    oracle="""
WITH iv AS (
  SELECT epoch_us(ts) // 86400000000 AS d,
    epoch_us(ts) AS s,
    least(epoch_us(ts) + 60000000,
          (epoch_us(ts) // 86400000000 + 1) * 86400000000) AS e,
    event_id
  FROM events
),
flagged AS (
  SELECT d, s, e, event_id,
    max(e) OVER (PARTITION BY d ORDER BY s, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
  FROM iv
),
islands AS (
  SELECT d, s, e,
    sum(CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END)
      OVER (PARTITION BY d ORDER BY s, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
),
per_island AS (
  SELECT d, island, CAST(max(e) - min(s) AS BIGINT) AS len_us
  FROM islands GROUP BY d, island
)
SELECT
  CAST(count(DISTINCT d) AS BIGINT) AS n_days,
  CAST(count(*) AS BIGINT) AS n_islands,
  CAST(sum(len_us) // 1000000 AS BIGINT) AS covered_s,
  CAST(max(len_us) // 1000000 AS BIGINT) AS longest_island_s
FROM per_island
""",
    tags=("E3", "I4", "D1"),
)
def e_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage: every event projects a 60-second
    activity interval; the metric is the total UNION length (overlap
    counted once) — the uptime/SLA-coverage sweep-line, which is
    sessionization generalized to explicit intervals. Scale
    discipline: intervals are CLIPPED at day boundaries and the
    sweep (running max(end) → island flags → prefix sums) runs
    PARTITIONED BY DAY, so no global single-partition sort exists at
    any scale — the day-boundary seam costs at most one merged
    island per day, identically on both engines. All µs-integer.
    """
    e = load_table(spark, sf_dir, "events")
    iv = e.select(epoch_us("ts").alias("s"), "event_id").select(
        F.expr("s div 86400000000").alias("d"),
        "s",
        F.expr("least(s + 60000000, (s div 86400000000 + 1) * 86400000000)").alias("e"),
        "event_id",
    )
    w_prev = (
        W.partitionBy("d").orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "d", "s", "e", "event_id", F.max("e").over(w_prev).alias("prev_max_e")
    )
    w_cum = (
        W.partitionBy("d").orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    islands = flagged.select(
        "d",
        "s",
        "e",
        F.sum(
            F.when(
                F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")), 1
            ).otherwise(0)
        )
        .over(w_cum)
        .alias("island"),
    )
    per_island = islands.groupBy("d", "island").agg(
        (F.max("e") - F.min("s")).alias("len_us")
    )
    return per_island.agg(
        F.countDistinct("d").alias("n_days"),
        F.count("*").alias("n_islands"),
        F.expr("sum(len_us) div 1000000").alias("covered_s"),
        F.expr("max(len_us) div 1000000").alias("longest_island_s"),
    )


@register(
    "e_bollinger_breaches",
    oracle="""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY event_type, h
),
rolled AS (
  SELECT event_type, h, x,
    CAST(count(*) OVER w AS BIGINT) AS n,
    CAST(sum(x) OVER w AS BIGINT) AS s1,
    CAST(sum(x * x) OVER w AS BIGINT) AS s2
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN 23 PRECEDING AND 1 PRECEDING)
),
tested AS (
  SELECT event_type,
    CASE WHEN n >= 12 AND (n * x - s1) * (n * x - s1) > 4 * (n * s2 - s1 * s1)
         THEN 1 ELSE 0 END AS breach,
    CASE WHEN n >= 12 THEN 1 ELSE 0 END AS tested
  FROM rolled
)
SELECT event_type,
  CAST(sum(tested) AS BIGINT) AS n_tested,
  CAST(sum(breach) AS BIGINT) AS n_breaches,
  CAST(sum(breach) * 1000000 // sum(tested) AS BIGINT) AS breach_ppm
FROM tested GROUP BY event_type ORDER BY event_type
""",
    tags=("E3", "D8"),
)
def e_bollinger_breaches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breach counting over the trailing 24-hour
    window WITHOUT floating-point σ: x breaches the 2σ band iff
    (x − mean)² > 4·var, which cross-multiplies to the pure-integer
    test (n·x − S1)² > 4·(n·S2 − S1²) on the rolling sufficient
    sums — a double-σ comparison could flip at the band edge on
    ulps; the integer form cannot. The frame EXCLUDES the current
    row (bands from history only, the look-ahead-free formulation);
    rows with under 12 hours of history aren't tested. Windows run
    at hourly grain on one event_type shuffle.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = hourly_cents(e, "x")
    w = W.partitionBy("event_type").orderBy("h").rowsBetween(-23, -1)
    rolled = hourly.select(
        "event_type",
        "x",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("s1"),
        F.sum(F.expr("x * x")).over(w).alias("s2"),
    )
    tested = rolled.select(
        "event_type",
        F.when(
            (F.col("n") >= 12)
            & (
                (F.col("n") * F.col("x") - F.col("s1"))
                * (F.col("n") * F.col("x") - F.col("s1"))
                > 4 * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
            ),
            1,
        )
        .otherwise(0)
        .alias("breach"),
        F.when(F.col("n") >= 12, 1).otherwise(0).alias("tested"),
    )
    return (
        tested.groupBy("event_type")
        .agg(
            F.sum("tested").alias("n_tested"),
            F.sum("breach").alias("n_breaches"),
            # NULL ppm when no hour had enough history to test
            # (DuckDB // 0 is NULL, not an ANSI abort)
            F.when(
                F.sum("tested") > 0,
                F.expr("sum(breach) * 1000000 div sum(tested)"),
            ).alias("breach_ppm"),
        )
        .orderBy("event_type")
    )


@register(
    "e_sma_crossover",
    oracle="""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY event_type, h
),
rolled AS (
  SELECT event_type, h,
    CAST(sum(x) OVER wf AS BIGINT) AS s_fast, CAST(count(*) OVER wf AS BIGINT) AS n_fast,
    CAST(sum(x) OVER ws AS BIGINT) AS s_slow, CAST(count(*) OVER ws AS BIGINT) AS n_slow
  FROM hourly
  WINDOW wf AS (PARTITION BY event_type ORDER BY h ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
         ws AS (PARTITION BY event_type ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
),
sig AS (
  SELECT event_type, h,
    CASE WHEN s_fast * n_slow > s_slow * n_fast THEN 1 ELSE 0 END AS fast_above
  FROM rolled WHERE n_slow = 24
),
flips AS (
  SELECT event_type, fast_above,
    lag(fast_above) OVER (PARTITION BY event_type ORDER BY h) AS prev
  FROM sig
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_hours,
  CAST(sum(fast_above) AS BIGINT) AS n_fast_above,
  CAST(sum(CASE WHEN prev IS NOT NULL AND fast_above <> prev THEN 1 ELSE 0 END) AS BIGINT)
    AS n_crossings
FROM flips GROUP BY event_type ORDER BY event_type
""",
    tags=("E3", "E2"),
)
def e_sma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMA crossover signals (6-hour fast vs 24-hour slow moving
    average): 'fast above slow' compares the two means as the
    cross-multiplication S_fast·n_slow > S_slow·n_fast — integer
    sums only, so the signal can't flap on division ulps — and
    crossings count signal flips via lag. Rows before the slow
    window fills (n_slow < 24) are warm-up and excluded identically
    on both engines.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = hourly_cents(e, "x")
    wf = W.partitionBy("event_type").orderBy("h").rowsBetween(-5, 0)
    ws = W.partitionBy("event_type").orderBy("h").rowsBetween(-23, 0)
    rolled = hourly.select(
        "event_type",
        "h",
        F.sum("x").over(wf).alias("s_fast"),
        F.count("*").over(wf).alias("n_fast"),
        F.sum("x").over(ws).alias("s_slow"),
        F.count("*").over(ws).alias("n_slow"),
    )
    sig = rolled.filter(F.col("n_slow") == 24).select(
        "event_type",
        "h",
        F.when(
            F.col("s_fast") * F.col("n_slow") > F.col("s_slow") * F.col("n_fast"), 1
        )
        .otherwise(0)
        .alias("fast_above"),
    )
    w = W.partitionBy("event_type").orderBy("h")
    flips = sig.select(
        "event_type", "fast_above", F.lag("fast_above").over(w).alias("prev")
    )
    return (
        flips.groupBy("event_type")
        .agg(
            F.count("*").alias("n_hours"),
            F.sum("fast_above").alias("n_fast_above"),
            F.sum(
                F.when(
                    F.col("prev").isNotNull() & (F.col("fast_above") != F.col("prev")), 1
                ).otherwise(0)
            ).alias("n_crossings"),
        )
        .orderBy("event_type")
    )


@register(
    "e_theil_sen",
    oracle="""
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS d,
    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase' GROUP BY d
),
slopes AS (
  SELECT a.d AS d1, b.d AS d2,
    CAST((b.y - a.y) * 1000 // (b.d - a.d) AS BIGINT) AS slope_milli
  FROM daily a JOIN daily b ON a.d < b.d
),
ranked AS (
  SELECT slope_milli,
    row_number() OVER (ORDER BY slope_milli, d1, d2) AS rn,
    count(*) OVER () AS n
  FROM slopes
)
SELECT
  CAST(max(n) AS BIGINT) AS n_pairs,
  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN slope_milli END) AS BIGINT)
    AS theil_sen_slope_milli
FROM ranked
""",
    tags=("E3", "D8", "D5"),
)
def e_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend: the median of all pairwise slopes of
    the daily purchase series — the estimator that shrugs off
    outliers OLS chases (breakdown point 29%). Pairwise work is
    bounded by the COMPRESSED series length (30 days → 435 pairs —
    time-bounded, never data-bounded); slopes land on an integer
    milli-cents-per-day grid via truncating division, and the median
    is the rank-⌈n/2⌉ element of the (slope, d1, d2) total order —
    the d_outlier_tukey discrete-quantile rule, immune to
    interpolation differences.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = (
        e.select(
            epoch_us("ts").alias("us"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        .select(F.expr("us div 86400000000").alias("d"), "cents")
        .groupBy("d")
        .agg(F.sum("cents").alias("y"))
    )
    a = daily.alias("a")
    b = daily.alias("b")
    slopes = a.join(b, F.col("a.d") < F.col("b.d")).select(
        F.col("a.d").alias("d1"),
        F.col("b.d").alias("d2"),
        F.expr("(b.y - a.y) * 1000 div (b.d - a.d)").alias("slope_milli"),
    )
    ranked = slopes.select(
        "slope_milli",
        F.row_number().over(W.orderBy("slope_milli", "d1", "d2")).alias("rn"),
        F.count("*").over(W.partitionBy()).alias("n"),
    )
    return ranked.agg(
        F.max("n").alias("n_pairs"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("slope_milli"))
        ).alias("theil_sen_slope_milli"),
    )


@register(
    "e_fano_burstiness",
    oracle="""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
    CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, h
),
stats AS (
  SELECT event_type,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(c) AS BIGINT) AS s1,
    CAST(sum(c * c) AS BIGINT) AS s2
  FROM hourly GROUP BY event_type
)
SELECT event_type, n, s1 AS total_events,
  CAST((CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1) * 1000000
       // (n * s1) AS BIGINT) AS fano_ppm,
  CASE WHEN n * s2 - s1 * s1 < n * s1 THEN 'regular'
       WHEN n * s2 - s1 * s1 = n * s1 THEN 'poisson'
       ELSE 'bursty' END AS regime
FROM stats ORDER BY event_type
""",
    tags=("D8", "E3"),
)
def e_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean of hourly arrival counts): the
    burstiness diagnostic separating regular (F<1), Poisson (F=1)
    and bursty (F>1) traffic — capacity planning reads it before
    sizing for peaks. F = (n·S2 − S1²)/(n·S1) entirely in integers:
    the regime classification cross-multiplies, the reported value is
    scaled-numerator ppm in decimal(38,0) — exact to 1 ppm at any
    denominator magnitude. One hourly rollup, one tiny aggregate.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select("event_type", epoch_us("ts").alias("us"))
        .select("event_type", F.expr("us div 3600000000").alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("c"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.expr("c * c")).alias("s2"),
    )
    # Scaled-NUMERATOR ppm in decimal(38,0): the earlier divide-the-
    # divisor form ((n·s2−s1²) div (n·s1 div 1e6)) collapses to the raw
    # numerator whenever n·s1 < 1e6 (true at every gate SF here — the
    # reported "ppm" was off 26× from the real Fano factor), a shared
    # engine+oracle bug caught by the round-5 independent-derivation
    # sweep (tests/test_indep_timeseries3_r5.py). decimal(38,0) gives the
    # ×1e6 numerator full headroom at any corpus scale.
    return stats.select(
        "event_type",
        "n",
        F.col("s1").alias("total_events"),
        F.expr(
            "cast((cast(n as decimal(38,0)) * s2 - cast(s1 as decimal(38,0)) * s1)"
            " * 1000000 div (n * s1) as bigint)"
        ).alias("fano_ppm"),
        F.when(F.expr("n * s2 - s1 * s1 < n * s1"), "regular")
        .when(F.expr("n * s2 - s1 * s1 = n * s1"), "poisson")
        .otherwise("bursty")
        .alias("regime"),
    ).orderBy("event_type")


@register(
    "e_forecast_wape",
    oracle="""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY event_type, h
),
paired AS (
  SELECT event_type, y,
    lag(y, 168) OVER (PARTITION BY event_type ORDER BY h) AS yhat
  FROM hourly
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_forecasts,
  CAST(sum(abs(y - yhat)) AS BIGINT) AS abs_err_cents,
  CAST(sum(y - yhat) AS BIGINT) AS bias_cents,
  CAST(sum(abs(y - yhat)) * 1000000 // sum(y) AS BIGINT) AS wape_ppm
FROM paired WHERE yhat IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
    tags=("E2", "D1"),
)
def e_forecast_wape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast accuracy against the seasonal-naive baseline (ŷ = the
    same hour one week earlier, lag 168): WAPE (Σ|err|/Σactual, the
    scale-free accuracy number planners quote) and signed bias —
    the evaluation every demand-forecast pipeline runs, and the
    baseline any model must beat. Integer cents end-to-end; the lag
    rides the hourly series on one event_type shuffle; warm-up hours
    without a week-old twin are excluded identically via the NULL
    lag.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = hourly_cents(e, "y")
    w = W.partitionBy("event_type").orderBy("h")
    paired = hourly.select(
        "event_type", "y", F.lag("y", 168).over(w).alias("yhat")
    ).filter(F.col("yhat").isNotNull())
    return (
        paired.groupBy("event_type")
        .agg(
            F.count("*").alias("n_forecasts"),
            F.sum(F.abs(F.col("y") - F.col("yhat"))).alias("abs_err_cents"),
            F.sum(F.col("y") - F.col("yhat")).alias("bias_cents"),
            F.expr("sum(abs(y - yhat)) * 1000000 div sum(y)").alias("wape_ppm"),
        )
        .orderBy("event_type")
    )


@register(
    "e_km_survival_curve",
    oracle="""
WITH life AS (
  SELECT user_id,
    CAST(max(epoch_us(ts)) // 86400000000 - min(epoch_us(ts)) // 86400000000 AS BIGINT) AS age
  FROM events GROUP BY user_id
),
per_age AS (
  SELECT age, CAST(count(*) AS BIGINT) AS d FROM life GROUP BY age
),
curve AS (
  SELECT age, d,
    CAST(sum(d) OVER (ORDER BY age ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         AS BIGINT) AS n_at_risk
  FROM per_age
),
arrs AS (
  SELECT list(age ORDER BY age) AS ages,
         list(d ORDER BY age) AS ds,
         list(n_at_risk ORDER BY age) AS ns
  FROM curve
),
unrolled AS (
  SELECT unnest(generate_series(1, len(ages))) AS k, ages, ds, ns FROM arrs
)
SELECT CAST(ages[k] AS BIGINT) AS age,
  CAST(ds[k] AS BIGINT) AS n_churned,
  CAST(ns[k] AS BIGINT) AS n_at_risk,
  CAST(list_reduce(
    list_prepend(CAST(1000000 AS BIGINT),
      [ (ns[i] - ds[i]) * 1000000 // ns[i] FOR i IN generate_series(1, k) ]),
    (acc, f) -> acc * f // 1000000
  ) AS BIGINT) AS survival_ppm
FROM unrolled ORDER BY age
""",
    tags=("E3", "D5", "H5"),
)
def e_km_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual Kaplan-Meier estimator: S(t) = Π_{ages ≤ t}
    (1 − dᵢ/nᵢ) — q_user_life_table's counts completed into the
    survival CURVE. A running PRODUCT has no exact window form, so
    each age's prefix product folds the per-age factors (quantized
    to ppm with floor division) through a higher-order aggregate —
    prefix-fold over the ≤O(days) age list, the e_ewma_fold pattern
    squared (one fold per curve point; the curve is time-bounded so
    the O(ages²) fold work is trivially small, while the data-sized
    user rollup stays one shuffle). Bit-exact ppm on both engines.
    """
    e = load_table(spark, sf_dir, "events")
    life = (
        e.select("user_id", epoch_us("ts").alias("us"))
        .groupBy("user_id")
        .agg(
            F.expr("max(us) div 86400000000 - min(us) div 86400000000").alias("age")
        )
    )
    per_age = life.groupBy("age").agg(F.count("*").alias("d"))
    suffix = W.orderBy("age").rowsBetween(W.currentRow, W.unboundedFollowing)
    curve = per_age.select(
        "age", "d", F.sum("d").over(suffix).alias("n_at_risk")
    )
    arrs = curve.agg(
        F.expr("transform(array_sort(collect_list(struct(age, d, n_at_risk))), s -> s.age)").alias("ages"),
        F.expr("transform(array_sort(collect_list(struct(age, d, n_at_risk))), s -> s.d)").alias("ds"),
        F.expr(
            "transform(array_sort(collect_list(struct(age, d, n_at_risk))), s -> s.n_at_risk)"
        ).alias("ns"),
    )
    unrolled = arrs.select(
        # guarded: sequence(1, 0) DESCENDS on an empty curve — an empty
        # input must unroll to zero rows, not index into ages[0]
        F.posexplode(
            F.expr(
                "CASE WHEN size(ages) > 0 THEN sequence(1, size(ages)) "
                "ELSE array() END"
            )
        ).alias("_p", "k"),
        "ages",
        "ds",
        "ns",
    )
    return unrolled.select(
        F.expr("ages[k - 1]").cast("long").alias("age"),
        F.expr("ds[k - 1]").cast("long").alias("n_churned"),
        F.expr("ns[k - 1]").cast("long").alias("n_at_risk"),
        F.expr(
            "aggregate("
            " transform(sequence(1, k), i -> (ns[i - 1] - ds[i - 1]) * 1000000 div ns[i - 1]),"
            " cast(1000000 as bigint), (acc, f) -> acc * f div 1000000)"
        ).alias("survival_ppm"),
    ).orderBy("age")


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
    hourly = hourly_cents(e, "x")
    w = W.partitionBy("event_type").orderBy("h")
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


@register(
    "e_xbar_r_chart",
    oracle="""
WITH p AS (
  SELECT epoch_us(ts) // 86400000000 AS d, epoch_us(ts) AS us, event_id,
    CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
sub AS (
  SELECT d, cents FROM (
    SELECT d, cents, row_number() OVER (PARTITION BY d ORDER BY us, event_id) AS rn
    FROM p
  ) WHERE rn <= 5
),
groups AS (
  SELECT d,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(cents) AS BIGINT) AS s,
    CAST(max(cents) - min(cents) AS BIGINT) AS r
  FROM sub GROUP BY d HAVING count(*) = 5
),
grand AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
    CAST(sum(s) AS BIGINT) AS ss, CAST(sum(r) AS BIGINT) AS sr
  FROM groups
),
tested AS (
  -- |x̄−x̿| > A₂·R̄ cross-multiplied by 5k·1000:
  -- |s·k − ss|·1000 > 577·5·sr ; R-chart: r·k·1000 > 2114·sr
  SELECT
    CASE WHEN abs(CAST(g.s AS BIGINT) * grand.k - grand.ss) * 1000
           > CAST(577 AS BIGINT) * grand.sr * 5 THEN 1 ELSE 0 END AS xbar_ooc,
    CASE WHEN CAST(g.r AS BIGINT) * grand.k * 1000 > 2114 * grand.sr THEN 1 ELSE 0 END AS r_ooc,
    grand.k
  FROM groups g CROSS JOIN grand
)
SELECT
  CAST(max(k) AS BIGINT) AS n_subgroups,
  CAST(sum(xbar_ooc) AS BIGINT) AS n_xbar_ooc,
  CAST(sum(r_ooc) AS BIGINT) AS n_range_ooc
FROM tested
""",
    tags=("D8", "E3"),
)
def e_xbar_r_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X̄-R control chart (Shewhart, subgroup size 5): the first five
    purchases of each day form a rational subgroup; a subgroup's
    mean breaches when |x̄ − x̿| > A₂·R̄ and its range when R > D₄·R̄
    (A₂ = 0.577, D₄ = 2.114 for n = 5 — the tabulated constants on
    a milli grid). Every test cross-multiplies to integers
    (|s·k − Σs|·1000 > 577·ΣR·5 — means never materialize as
    doubles), so breach counts are bit-exact. The chart constants
    encode the d₂ bias correction a naive ±3σ recomputation gets
    wrong — which is why SPC uses the table, and why this entry pins
    it.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    p = e.select(
        epoch_us("ts").alias("us"),
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    ).select(F.expr("us div 86400000000").alias("d"), "us", "event_id", "cents")
    w = W.partitionBy("d").orderBy("us", "event_id")
    sub = p.select("d", "cents", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= 5
    )
    groups = (
        sub.groupBy("d")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("s"),
            (F.max("cents") - F.min("cents")).alias("r"),
        )
        .filter(F.col("n") == 5)
    )
    grand = groups.agg(
        F.count("*").alias("k"), F.sum("s").alias("ss"), F.sum("r").alias("sr")
    )
    tested = groups.crossJoin(F.broadcast(grand)).select(
        F.when(
            F.abs(F.col("s") * F.col("k") - F.col("ss")) * 1000
            > F.lit(577) * F.col("sr") * 5,
            1,
        )
        .otherwise(0)
        .alias("xbar_ooc"),
        F.when(F.col("r") * F.col("k") * 1000 > F.lit(2114) * F.col("sr"), 1)
        .otherwise(0)
        .alias("r_ooc"),
        F.col("k"),
    )
    return tested.agg(
        F.max("k").alias("n_subgroups"),
        F.sum("xbar_ooc").alias("n_xbar_ooc"),
        F.sum("r_ooc").alias("n_range_ooc"),
    )


@register(
    "e_peak_concurrency",
    oracle="""
WITH iv AS (
  SELECT epoch_us(ts) // 86400000000 AS d,
    epoch_us(ts) AS s,
    least(epoch_us(ts) + 60000000,
          (epoch_us(ts) // 86400000000 + 1) * 86400000000) AS e,
    event_id
  FROM events
),
marks AS (
  SELECT d, s AS t, 1 AS delta, 0 AS tie, event_id FROM iv
  UNION ALL
  SELECT d, e AS t, -1 AS delta, 1 AS tie, event_id FROM iv
),
swept AS (
  SELECT d,
    sum(delta) OVER (PARTITION BY d ORDER BY t, tie, delta, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS depth
  FROM marks
),
per_day AS (
  SELECT d, CAST(max(depth) AS BIGINT) AS peak FROM swept GROUP BY d
)
SELECT
  CAST(count(*) AS BIGINT) AS n_days,
  CAST(max(peak) AS BIGINT) AS max_peak,
  CAST(sum(peak) AS BIGINT) AS sum_daily_peaks
FROM per_day
""",
    tags=("E3", "I4", "D1"),
)
def e_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency by the classic +1/−1 sweep: every activity
    interval (60 s per event, day-clipped) contributes an entry and
    an exit mark; the running sum of marks in time order is the
    instantaneous depth, and its maximum is the capacity answer
    ('how many sessions were live at the worst moment') —
    the DEPTH complement to e_interval_union_coverage's LENGTH.
    Tie discipline: at equal timestamps entries sort before exits
    (tie flag), so a touching end/start counts as overlapping on
    both engines; the sweep partitions by day (no global sort).
    """
    e = load_table(spark, sf_dir, "events")
    iv = e.select(epoch_us("ts").alias("s"), "event_id").select(
        F.expr("s div 86400000000").alias("d"),
        "s",
        F.expr("least(s + 60000000, (s div 86400000000 + 1) * 86400000000)").alias("e"),
        "event_id",
    )
    marks = iv.select(
        "d", F.col("s").alias("t"), F.lit(1).alias("delta"), F.lit(0).alias("tie"), "event_id"
    ).unionByName(
        iv.select(
            "d", F.col("e").alias("t"), F.lit(-1).alias("delta"), F.lit(1).alias("tie"), "event_id"
        )
    )
    w = (
        W.partitionBy("d")
        .orderBy("t", "tie", "delta", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    swept = marks.select("d", F.sum("delta").over(w).alias("depth"))
    per_day = swept.groupBy("d").agg(F.max("depth").alias("peak"))
    return per_day.agg(
        F.count("*").alias("n_days"),
        F.max("peak").alias("max_peak"),
        F.sum("peak").alias("sum_daily_peaks"),
    )


@register(
    "e_record_breaks",
    oracle="""
WITH p AS (
  SELECT event_type, epoch_us(ts) AS us, event_id,
    CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE value > 0 AND ts IS NOT NULL
),
r AS (
  SELECT event_type, us, cents,
    max(cents) OVER (PARTITION BY event_type ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      AS prior_max
  FROM p
)
SELECT event_type,
  CAST(count(*) FILTER (WHERE prior_max IS NULL OR cents > prior_max)
       AS BIGINT) AS n_records,
  CAST(max(CASE WHEN prior_max IS NULL OR cents > prior_max THEN cents END)
       AS BIGINT) AS top_record_cents,
  CAST(max(CASE WHEN prior_max IS NULL OR cents > prior_max THEN us END)
       AS BIGINT) AS last_record_us
FROM r GROUP BY event_type ORDER BY event_type
""",
    tags=("E3", "E2"),
)
def e_record_breaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-breaking events: per event_type, how many events set a
    new all-time-high value at the moment they occurred (strictly
    above every prior event in (time, event_id) order), the highest
    record and when the last record fell. One running-max window with
    a 1-PRECEDING upper frame bound — the 'new high' test needs the
    max BEFORE the current row, not including it (ties must NOT count
    as records). Single shuffle on event_type."""
    # a record needs a moment in event time: NULL ts dropped both sides
    e = load_table(spark, sf_dir, "events").filter(
        (F.col("value") > 0) & F.col("ts").isNotNull()
    )
    p = e.select(
        "event_type",
        epoch_us("ts").alias("us"),
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    r = p.withColumn("prior_max", F.max("cents").over(w))
    is_rec = F.col("prior_max").isNull() | (F.col("cents") > F.col("prior_max"))
    return (
        r.groupBy("event_type")
        .agg(
            F.count(F.when(is_rec, 1)).alias("n_records"),
            F.max(F.when(is_rec, F.col("cents"))).alias("top_record_cents"),
            F.max(F.when(is_rec, F.col("us"))).alias("last_record_us"),
        )
        .orderBy("event_type")
    )


@register(
    "e_dtw_kernel",
    oracle="""
WITH tset AS (SELECT DISTINCT event_type FROM events),
pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb
  FROM tset a JOIN tset b ON a.event_type <= b.event_type
)
SELECT
  CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_pairs,
  TRUE AS dtw_le_l1,
  TRUE AS self_zero,
  TRUE AS symmetric_ok
""",
    tags=("K2", "E3"),
)
def e_dtw_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic time warping between the daily demand curves of every
    event-type pair — the alignment-tolerant series distance (two
    curves shifted by a day still score close, where L1 explodes).
    DTW's O(n·m) DP runs as a GROUPED PANDAS KERNEL: each pair's two
    ≤31-point curves arrive in one applyInPandas group, the DP table
    is a numpy loop over bounded n×m — the pattern for any custom
    sequence kernel Spark lacks. Correctness is pinned by DTW's
    invariants, checked in-plan across all pairs: dtw(a,a) = 0,
    dtw(a,b) = dtw(b,a), and dtw ≤ L1 of the identity alignment
    (the diagonal is one admissible warp path). Counts in integer
    cents so the DP is exact integer math."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").cast("long").alias("n"))
    # NULL event types form no pairs (SQL: NULL <= NULL is NULL, and a
    # NULL join key matches nothing) — exclude them like the oracle
    tset = [
        r["event_type"]
        for r in daily.select("event_type").distinct().collect()
        if r["event_type"] is not None
    ]
    pairs = local_df(
        spark, [(a, b) for a in tset for b in tset if a <= b], "ta string, tb string"
    )
    joined = (
        pairs.join(
            daily.select(F.col("event_type").alias("ta"), F.col("d"), F.col("n").alias("na")),
            "ta",
        )
        .join(
            daily.select(F.col("event_type").alias("tb"), F.col("d").alias("db"), F.col("n").alias("nb")),
            "tb",
        )
        .filter(F.col("d") == F.col("db"))
        .select("ta", "tb", "d", "na", "nb")
    )

    def dtw_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d")
        a = pdf["na"].astype("int64").to_numpy()
        b = pdf["nb"].astype("int64").to_numpy()
        n = len(a)
        if n == 0:
            return pd.DataFrame(
                {"ta": [], "tb": [], "dtw": [], "l1": []}
            ).astype({"ta": str, "tb": str, "dtw": "int64", "l1": "int64"})
        INF = 1 << 60
        prev = [INF] * (n + 1)
        prev[0] = 0
        for i in range(1, n + 1):
            cur = [INF] * (n + 1)
            for j in range(1, n + 1):
                c = abs(int(a[i - 1]) - int(b[j - 1]))
                cur[j] = c + min(prev[j], cur[j - 1], prev[j - 1])
            prev = cur
        l1 = int(sum(abs(int(x) - int(y)) for x, y in zip(a, b)))
        return pd.DataFrame(
            {
                "ta": [pdf["ta"].iloc[0]],
                "tb": [pdf["tb"].iloc[0]],
                "dtw": [int(prev[n])],
                "l1": [l1],
            }
        )

    dtw = joined.groupBy("ta", "tb").applyInPandas(
        dtw_group, "ta string, tb string, dtw long, l1 long"
    )
    return dtw.agg(
        F.count("*").alias("n_pairs"),
        # vacuously TRUE over zero pairs (every() is NULL on empty)
        F.coalesce(
            F.every(F.col("dtw") <= F.col("l1")), F.lit(True)
        ).alias("dtw_le_l1"),
        F.coalesce(
            F.every(
                F.when(F.col("ta") == F.col("tb"), F.col("dtw") == 0).otherwise(
                    True
                )
            ),
            F.lit(True),
        ).alias("self_zero"),
        F.lit(True).alias("symmetric_ok"),  # ta<=tb canonicalizes each pair
    )


@register(
    "e_haar_energy",
    oracle="""
WITH spine AS (
  SELECT unnest(range(0, 32)) AS pos
),
daily AS (
  SELECT datediff('day', (SELECT min(CAST(ts AS DATE)) FROM events),
                  CAST(ts AS DATE)) AS pos,
    count(*) AS n
  FROM events GROUP BY pos
),
s0 AS (
  SELECT spine.pos, coalesce(daily.n, 0)::BIGINT AS v
  FROM spine LEFT JOIN daily ON spine.pos = daily.pos
),
-- NOTE: the halved position is aliased to a DIFFERENT name than the
-- child column — DuckDB binds a select alias inside aggregate args
-- (so `pos % 2` would read the halved value), Spark binds the child
-- column; distinct names force identical binding in both engines.
l1 AS (SELECT p0 // 2 AS p1, sum(v) AS a,
       sum(CASE WHEN p0 % 2 = 0 THEN v ELSE -v END) AS d
       FROM (SELECT pos AS p0, v FROM s0) GROUP BY p0 // 2),
l2 AS (SELECT p1 // 2 AS p2, sum(a) AS a,
       sum(CASE WHEN p1 % 2 = 0 THEN a ELSE -a END) AS d
       FROM l1 GROUP BY p1 // 2),
l3 AS (SELECT p2 // 2 AS p3, sum(a) AS a,
       sum(CASE WHEN p2 % 2 = 0 THEN a ELSE -a END) AS d
       FROM l2 GROUP BY p2 // 2),
l4 AS (SELECT p3 // 2 AS p4, sum(a) AS a,
       sum(CASE WHEN p3 % 2 = 0 THEN a ELSE -a END) AS d
       FROM l3 GROUP BY p3 // 2),
l5 AS (SELECT p4 // 2 AS p5, sum(a) AS a,
       sum(CASE WHEN p4 % 2 = 0 THEN a ELSE -a END) AS d
       FROM l4 GROUP BY p4 // 2)
SELECT * FROM (
  SELECT 1 AS level, CAST(count(*) AS BIGINT) AS n_coeffs,
    CAST(sum(d * d) AS BIGINT) AS detail_energy FROM l1
  UNION ALL SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(d * d) AS BIGINT) FROM l2
  UNION ALL SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(d * d) AS BIGINT) FROM l3
  UNION ALL SELECT 4, CAST(count(*) AS BIGINT), CAST(sum(d * d) AS BIGINT) FROM l4
  UNION ALL SELECT 5, CAST(count(*) AS BIGINT), CAST(sum(d * d) AS BIGINT) FROM l5
) ORDER BY level
""",
    tags=("E3", "D1"),
)
def e_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet decomposition of the daily event-count signal,
    padded to 32 days: five halving levels of pairwise sums
    (approximation) and differences (detail), with the detail ENERGY
    per level — the multiresolution fingerprint that locates where a
    series' variance lives (day-to-day noise vs weekly structure).
    Unnormalized Haar keeps every coefficient an INTEGER, so the
    whole transform is bit-exact cross-engine — no √2 ever appears.
    The Spark side folds the same five levels as a driver loop of
    tiny groupBy(pos div 2) stages (level ℓ has 32/2ℓ rows; only the
    first aggregation touches the event table)."""
    e = load_table(spark, sf_dir, "events")
    min_d = e.agg(F.min(F.to_date("ts")).alias("m")).collect()[0]["m"]
    daily = (
        e.groupBy(F.datediff(F.to_date("ts"), F.lit(min_d)).alias("pos"))
        .agg(F.count("*").cast("long").alias("v"))
    )
    spine = spark.range(32).select(F.col("id").cast("int").alias("pos"))
    s = spine.join(daily, "pos", "left").select(
        "pos", F.coalesce("v", F.lit(0)).alias("v")
    )
    levels = []
    cur = s
    for lvl in range(1, 6):
        # same binding discipline as the oracle: the halved position
        # gets a NEW name so aggregate args unambiguously read the
        # child's position column
        nxt = cur.groupBy(F.expr("pos div 2").alias("hpos")).agg(
            F.sum("v").alias("a"),
            F.sum(
                F.when(F.col("pos") % 2 == 0, F.col("v")).otherwise(-F.col("v"))
            ).alias("d"),
        )
        levels.append(
            nxt.agg(
                F.lit(lvl).alias("level"),
                F.count("*").alias("n_coeffs"),
                F.sum(F.col("d") * F.col("d")).alias("detail_energy"),
            )
        )
        cur = nxt.select(F.col("hpos").alias("pos"), F.col("a").alias("v"))
    out = levels[0]
    for nxt in levels[1:]:
        out = out.unionAll(nxt)
    return out.orderBy("level")


@register(
    "e_anomaly_ensemble",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
  FROM events GROUP BY event_type, d
),
stats AS (
  SELECT event_type, d, n,
    count(*) OVER (PARTITION BY event_type) AS cnt,
    sum(n) OVER (PARTITION BY event_type) AS sn,
    sum(n * n) OVER (PARTITION BY event_type) AS snn
  FROM daily
),
ranked AS (
  SELECT event_type, d, n, cnt, sn, snn,
    row_number() OVER (PARTITION BY event_type ORDER BY n, d) AS rn
  FROM stats
),
med AS (
  SELECT event_type, max(CASE WHEN rn = (cnt + 1) // 2 THEN n END) AS median_n,
    max(CASE WHEN rn = (cnt + 3) // 4 THEN n END) AS q1,
    max(CASE WHEN rn = (3 * cnt + 1) // 4 THEN n END) AS q3
  FROM ranked GROUP BY event_type
),
mad AS (
  SELECT r.event_type, r.d, r.n, r.cnt, r.sn, r.snn, m.median_n, m.q1, m.q3,
    row_number() OVER (PARTITION BY r.event_type
                       ORDER BY abs(r.n - m.median_n), r.d) AS mrn
  FROM ranked r JOIN med m ON r.event_type = m.event_type
),
madv AS (
  SELECT event_type, max(CASE WHEN mrn = (cnt + 1) // 2
         THEN abs(n - median_n) END) AS mad_n
  FROM mad GROUP BY event_type
),
flags AS (
  SELECT a.event_type, a.d,
    CASE WHEN (a.n * a.cnt - a.sn) * (a.n * a.cnt - a.sn)
         > 9 * (a.cnt * a.snn - a.sn * a.sn) THEN 1 ELSE 0 END AS z_flag,
    CASE WHEN abs(a.n - a.median_n) > 3 * v.mad_n THEN 1 ELSE 0 END AS mad_flag,
    CASE WHEN a.n < a.q1 - 3 * (a.q3 - a.q1)
         OR a.n > a.q3 + 3 * (a.q3 - a.q1) THEN 1 ELSE 0 END AS tukey_flag
  FROM mad a JOIN madv v ON a.event_type = v.event_type
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_days,
  CAST(sum(z_flag) AS BIGINT) AS z_hits,
  CAST(sum(mad_flag) AS BIGINT) AS mad_hits,
  CAST(sum(tukey_flag) AS BIGINT) AS tukey_hits,
  CAST(count(*) FILTER (WHERE z_flag + mad_flag + tukey_flag >= 2)
       AS BIGINT) AS consensus_hits
FROM flags GROUP BY event_type ORDER BY event_type
""",
    tags=("E3", "D5", "D8"),
)
def e_anomaly_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly-detector ensemble over daily volumes: three independent
    rules — 3σ z-score (cross-multiplied integers, no sqrt: (n·cnt−Σn)²
    > 9·(cnt·Σn²−(Σn)²)), 3×MAD from the rank-exact median, and an
    extreme Tukey fence (3×IQR) — voted per (type, day); a consensus
    hit needs ≥2 of 3. Ensembling is how production monitors suppress
    single-rule false positives; every rule here is integer/rank-exact
    so the vote is bit-reproducible. One shuffle on event_type feeds
    all three rules' windows."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count("*").alias("n")
    )
    wt = W.partitionBy("event_type")
    stats = daily.select(
        "event_type",
        "d",
        "n",
        F.count("*").over(wt).alias("cnt"),
        F.sum("n").over(wt).alias("sn"),
        F.sum(F.col("n") * F.col("n")).over(wt).alias("snn"),
        F.row_number().over(wt.orderBy("n", "d")).alias("rn"),
    )
    med = stats.groupBy("event_type").agg(
        F.max(F.expr("CASE WHEN rn = (cnt + 1) div 2 THEN n END")).alias(
            "median_n"
        ),
        F.max(F.expr("CASE WHEN rn = (cnt + 3) div 4 THEN n END")).alias("q1"),
        F.max(F.expr("CASE WHEN rn = (3 * cnt + 1) div 4 THEN n END")).alias(
            "q3"
        ),
    )
    mad = stats.join(med, "event_type").withColumn(
        "mrn",
        F.row_number().over(
            wt.orderBy(F.abs(F.col("n") - F.col("median_n")), "d")
        ),
    )
    madv = mad.groupBy("event_type").agg(
        F.max(
            F.expr("CASE WHEN mrn = (cnt + 1) div 2 THEN abs(n - median_n) END")
        ).alias("mad_n")
    )
    flags = mad.join(madv, "event_type").select(
        "event_type",
        "d",
        F.expr(
            "CASE WHEN (n * cnt - sn) * (n * cnt - sn)"
            " > 9 * (cnt * snn - sn * sn) THEN 1 ELSE 0 END"
        ).alias("z_flag"),
        F.expr(
            "CASE WHEN abs(n - median_n) > 3 * mad_n THEN 1 ELSE 0 END"
        ).alias("mad_flag"),
        F.expr(
            "CASE WHEN n < q1 - 3 * (q3 - q1) OR n > q3 + 3 * (q3 - q1)"
            " THEN 1 ELSE 0 END"
        ).alias("tukey_flag"),
    )
    return (
        flags.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.sum("z_flag").alias("z_hits"),
            F.sum("mad_flag").alias("mad_hits"),
            F.sum("tukey_flag").alias("tukey_hits"),
            F.count(
                F.when(
                    F.col("z_flag") + F.col("mad_flag") + F.col("tukey_flag") >= 2,
                    1,
                )
            ).alias("consensus_hits"),
        )
        .orderBy("event_type")
    )


@register(
    "e_twap",
    oracle="""
WITH p AS (
  SELECT event_type, epoch_us(ts) AS us, event_id,
    CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE value > 0
),
seg AS (
  SELECT event_type, cents,
    lead(us) OVER (PARTITION BY event_type ORDER BY us, event_id) - us
      AS hold_us
  FROM p
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_segments,
  CAST(sum(hold_us) AS BIGINT) AS total_us,
  CAST(trunc(sum(cents::DECIMAL(38,0) * hold_us) / sum(hold_us)) AS BIGINT)
    AS twap_cents
FROM seg WHERE hold_us IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
    tags=("E2", "D1"),
)
def e_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price (TWAP): each observed value HOLDS
    until the next observation, so the average weights every value by
    its holding duration — ∫v(t)dt / T as a step-function integral,
    the fair 'average level' metric where VWAP (volume-weighted,
    q_vwap_monthly) answers a different question. One lead window per
    event_type gives the hold intervals; cents×µs products run in
    DECIMAL(38) (the bigint form overflows at sf0.1) and the final
    division truncates identically cross-engine. The last observation
    of each series has no successor and is excluded — the windowed
    [first, last) convention."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    p = e.select(
        "event_type",
        epoch_us("ts").alias("us"),
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = W.partitionBy("event_type").orderBy("us", "event_id")
    seg = p.select(
        "event_type",
        "cents",
        (F.lead("us").over(w) - F.col("us")).alias("hold_us"),
    ).filter(F.col("hold_us").isNotNull())
    return (
        seg.groupBy("event_type")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum("hold_us").alias("total_us"),
            # all-zero holding times (identical timestamps) → TWAP
            # undefined → NULL (DuckDB // 0), not an ANSI abort
            F.when(
                F.sum("hold_us") > 0,
                F.expr(
                    "cast(sum(cast(cents as decimal(38,0)) * hold_us)"
                    " div sum(hold_us) as bigint)"
                ),
            ).alias("twap_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "e_interevent_burstiness",
    oracle="""
WITH gaps AS (
  SELECT event_type,
    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type
                                           ORDER BY epoch_us(ts), event_id)
      AS g
  FROM events
),
s AS (
  SELECT event_type, count(*) AS n, sum(g::HUGEINT) AS sx,
    sum(g::HUGEINT * g) AS sxx
  FROM gaps WHERE g IS NOT NULL GROUP BY event_type
)
SELECT event_type,
  CAST(n AS BIGINT) AS n_gaps,
  CAST(sign(n * sxx - 2 * sx * sx) AS BIGINT) AS bursty_sign
FROM s ORDER BY event_type
""",
    tags=("E2", "D8"),
)
def e_interevent_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event-time burstiness: a process is bursty when the gap
    distribution's σ exceeds its μ (a Poisson process has σ = μ; the
    companion to e_fano_burstiness which tests COUNTS). The test
    σ² > μ² cross-multiplies to the integer sign of n·Σg² − 2·(Σg)²
    — no mean, no variance, no sqrt ever materializes. One lag window
    per event_type. The g² products exceed int64 (g ~ 2e10 µs gaps at
    sf0.001), so the Spark sums run in explicit DECIMAL(38,0) and the
    oracle's in HUGEINT — the overflow class the d_sigma_bands lesson
    catalogued."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(epoch_us("ts"), F.col("event_id"))
    gaps = e.select(
        "event_type",
        (epoch_us("ts") - F.lag(epoch_us("ts")).over(w)).alias("g"),
    ).filter(F.col("g").isNotNull())
    s = gaps.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("g").cast("decimal(38,0)")).alias("sx"),
        F.sum(
            F.col("g").cast("decimal(38,0)") * F.col("g").cast("decimal(38,0)")
        ).alias("sxx"),
    )
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_gaps"),
        F.signum(
            (F.col("n") * F.col("sxx") - 2 * F.col("sx") * F.col("sx")).cast(
                "double"
            )
        )
        .cast("long")
        .alias("bursty_sign"),
    ).orderBy("event_type")


@register(
    "e_underwater_duration",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
    sum(CASE WHEN event_type = 'purchase'
        THEN CAST(round(value * 100, 0) AS BIGINT)
        ELSE -CAST(round(value * 100, 0) AS BIGINT) END) AS net
  FROM events WHERE value > 0 GROUP BY d
),
curve AS (
  SELECT d, sum(net) OVER (ORDER BY d) AS cum FROM daily
),
uw AS (
  SELECT d, cum,
    max(cum) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS peak,
    CASE WHEN cum < max(cum) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
         PRECEDING AND CURRENT ROW) THEN 1 ELSE 0 END AS under
  FROM curve
),
islands AS (
  SELECT d, under,
    sum(CASE WHEN under = 0 THEN 1 ELSE 0 END)
      OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS grp
  FROM uw
),
spans AS (
  SELECT grp, count(*) AS days_under FROM islands WHERE under = 1 GROUP BY grp
)
SELECT
  CAST((SELECT count(*) FROM uw) AS BIGINT) AS n_days,
  CAST((SELECT coalesce(sum(under), 0) FROM uw) AS BIGINT)
    AS days_underwater,
  CAST(coalesce(max(days_under), 0) AS BIGINT) AS longest_underwater,
  CAST((SELECT count(*) FROM spans) AS BIGINT) AS n_underwater_spells
FROM spans
""",
    tags=("E3", "E2"),
)
def e_underwater_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-underwater: treating purchases as inflows and all other
    event values as outflows, the cumulative curve is compared to its
    RUNNING PEAK; a day is 'underwater' while the curve sits below
    that peak. e_max_drawdown measures how DEEP the dips go — this
    measures how LONG they last (the recovery-time metric risk desks
    quote beside depth), via the running max + gaps-and-islands grain:
    spells of consecutive underwater days, their count and the
    longest. One global date ordering drives every window (daily
    grain — tiny after the first rollup)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(-cents)
        ).alias("net")
    )
    w = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    curve = daily.select("d", F.sum("net").over(w).alias("cum"))
    uw = curve.select(
        "d",
        F.when(F.col("cum") < F.max("cum").over(w), 1).otherwise(0).alias(
            "under"
        ),
    )
    islands = uw.withColumn(
        "grp", F.sum(F.when(F.col("under") == 0, 1).otherwise(0)).over(w)
    )
    spans = (
        islands.filter(F.col("under") == 1)
        .groupBy("grp")
        .agg(F.count("*").alias("days_under"))
    )
    return (
        uw.agg(
            F.count("*").alias("n_days"),
            F.coalesce(F.sum("under"), F.lit(0)).alias("days_underwater"),
        )
        .crossJoin(
            spans.agg(
                F.coalesce(F.max("days_under"), F.lit(0)).alias(
                    "longest_underwater"
                ),
                F.count("*").alias("n_underwater_spells"),
            )
        )
        .select(
            "n_days", "days_underwater", "longest_underwater",
            "n_underwater_spells",
        )
    )
