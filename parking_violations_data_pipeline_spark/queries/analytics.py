"""Product-analytics composites over the events stream table.

The reporting queries every analytics engine ends up running: cohort
retention, conversion funnel, cumulative-distinct growth. Each is a
composition of already-covered primitives (D1 aggregation, E-family
windows, H2 datetime) — registered because the *composition* is what
users port between engines, and each has a classic wrong-shuffle
trap the plan must avoid (noted per query).

The Q-family entries over the event stream follow: windowed funnels,
sessions, attribution, life tables and time-to-milestone, growth
accounting, OHLC bars, seasonality and interval merging.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table, maybe_broadcast
from parking_violations_data_pipeline_spark.functions.timeutil import epoch_us
from parking_violations_data_pipeline_spark.registry import register


@register(
    "q_cohort_retention",
    oracle="""
WITH firstweek AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY user_id
)
SELECT f.cohort_week,
       CAST((CAST(date_trunc('week', e.ts) AS DATE) - CAST(f.cohort_week AS DATE)) // 7
            AS BIGINT) AS week_offset,
       count(DISTINCT e.user_id) AS n_active
FROM events e JOIN firstweek f ON e.user_id = f.user_id
GROUP BY 1, 2 ORDER BY 1, 2
""",
    tags=("D1", "D2", "H2", "E2"),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-active week, activity
    counted per (cohort, week-offset). The cohort table is tiny
    (one row per user) so it broadcasts back onto events — the big
    table is shuffled once, for the final (cohort, offset) distinct
    aggregate. Week offset is integer day arithmetic (both engines
    truncate weeks to Monday; the DATE cast keeps it TZ-free)."""
    ev = load_table(spark, sf_dir, "events")
    firstweek = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    return (
        ev.join(maybe_broadcast(firstweek, sf_dir, "events"), "user_id")
        .select(
            "cohort_week",
            F.floor(
                F.datediff(
                    F.date_trunc("week", "ts").cast("date"),
                    F.col("cohort_week").cast("date"),
                )
                / 7
            ).alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "q_funnel",
    oracle="""
WITH s AS (
  SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'signup'
  GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t1 FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'click' AND e.ts > s.t0 GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t1 GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM s) AS n_signup,
       (SELECT count(*) FROM c) AS n_click_after,
       (SELECT count(*) FROM p) AS n_purchase_after
""",
    tags=("D1", "C1", "B6", "H2"),
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: signup → first later click → first
    later purchase, strictly time-ordered per user. Three per-user
    min-aggregates chained by broadcast joins of the (small) per-user
    stage tables — events is scanned per stage but never
    self-joined row×row (the naive funnel query is a triple self-join
    that explodes on active users)."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(maybe_broadcast(s, sf_dir, "events"), "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(maybe_broadcast(c, sf_dir, "events"), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    return (
        s.agg(F.count("*").alias("n_signup"))
        .crossJoin(c.agg(F.count("*").alias("n_click_after")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase_after")))
    )


@register(
    "e_cumulative_distinct",
    oracle="""
WITH firstday AS (
  SELECT user_id, CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS d
  FROM events GROUP BY user_id
), daily AS (
  SELECT d, count(*) AS new_users FROM firstday GROUP BY d
)
SELECT d, new_users,
       CAST(sum(new_users) OVER (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM daily ORDER BY d
""",
    tags=("D2", "E3", "H2"),
)
def e_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count by first-seen hour — the streaming-dashboard
    classic. Rewritten from 'count distinct up to each day' (which
    needs O(days × users) state) to first-seen-hour + cumulative sum:
    one per-user aggregate, one tiny per-hour frame, one ordered
    window over hour rows only."""
    ev = load_table(spark, sf_dir, "events")
    firstday = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("d")
    )
    daily = firstday.groupBy("d").agg(F.count("*").alias("new_users"))
    w = W.orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    return daily.select(
        "d", "new_users", F.sum("new_users").over(w).alias("cum_users")
    ).orderBy("d")


@register(
    "q_customer_deciles",
    oracle="""
WITH spend AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend,
         count(*) AS n_orders
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT *, ntile(10) OVER (ORDER BY total_spend, o_custkey) AS decile
  FROM spend
)
SELECT decile, count(*) AS n_customers,
       round(sum(total_spend), 2) AS decile_spend,
       round(min(total_spend), 2) AS min_spend,
       round(max(total_spend), 2) AS max_spend,
       CAST(sum(n_orders) AS BIGINT) AS n_orders
FROM ranked GROUP BY decile ORDER BY decile
""",
    tags=("E1", "D1", "B6"),
)
def q_customer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend deciles (the RFM/BI classic): per-customer order
    totals, ntile(10) with the FULL tie-break (spend, custkey — ntile
    splits equal values across bucket boundaries, so the secondary
    key is what makes the bucketing engine-portable), then per-decile
    spend/min/max/order-count. One shuffle for the per-customer agg;
    the ntile runs over the (much smaller) customer frame."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        F.count("*").alias("n_orders"),
    )
    w = W.orderBy("total_spend", "o_custkey")
    return (
        spend.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("total_spend"), 2).alias("decile_spend"),
            F.round(F.min("total_spend"), 2).alias("min_spend"),
            F.round(F.max("total_spend"), 2).alias("max_spend"),
            F.sum("n_orders").alias("n_orders"),
        )
        .orderBy("decile")
    )


@register(
    "q_basket_pairs",
    oracle="""
WITH pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, count(*) AS n_baskets
FROM pairs GROUP BY part_a, part_b
ORDER BY n_baskets DESC, part_a, part_b LIMIT 20
""",
    tags=("C1", "D1", "F3"),
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing in the same
    order, top-20 with full tie-break. The self-join shuffles on
    l_orderkey and the pair blow-up is bounded by lines-per-order
    (~7), so work is O(orders x lines²-per-order), never corpus² —
    the same bounded-group shape as the session and dedup operators."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = a.join(b, "l_orderkey").filter(F.col("part_a") < F.col("part_b"))
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_baskets"))
        .orderBy(F.desc("n_baskets"), "part_a", "part_b")
        .limit(20)
    )


@register(
    "q_pareto_80",
    oracle="""
WITH spend AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS s
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT s, sum(s) OVER (ORDER BY s DESC, o_custkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(s) OVER () AS total
  FROM spend
)
SELECT count(*) AS n_total_customers,
       CAST(sum(CASE WHEN cum - s < total * 0.8 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_customers_to_80pct
FROM ranked
""",
    tags=("E3", "D1", "F1"),
)
def q_pareto_80(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: how many top customers (by spend, full
    tie-break) cover 80% of revenue — counted as customers whose
    cumulative share BEFORE their own spend is still under the
    threshold (closed-form, no iteration). The running sum orders the
    small per-customer frame; the big table is touched once."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("s")
    )
    w = W.orderBy(F.desc("s"), "o_custkey").rowsBetween(W.unboundedPreceding, 0)
    wt = W.partitionBy()
    ranked = spend.select(
        "s",
        F.sum("s").over(w).alias("cum"),
        F.sum("s").over(wt).alias("total"),
    )
    return ranked.agg(
        F.count("*").alias("n_total_customers"),
        # when/otherwise(0), matching the oracle's CASE … ELSE 0: an
        # all-NULL spend column must count 0, not propagate NULL
        F.sum(
            F.when((F.col("cum") - F.col("s")) < F.col("total") * 0.8, 1)
            .otherwise(0)
            .cast("long")
        ).alias("n_customers_to_80pct"),
    )


@register(
    "q_weighted_decay",
    oracle="""
SELECT event_type,
  round(sum(value * exp(-CAST(epoch_us(TIMESTAMP '2024-02-01 00:00:00')
                              - epoch_us(ts) AS DOUBLE)
                        / (7.0 * 86400.0 * 1000000.0))), 2) AS decayed,
  round(sum(value), 2) AS raw
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("D1", "H2", "H3"),
)
def q_weighted_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay weighted aggregation (half-life style
    recency weighting, 7-day scale, anchored at a fixed literal so
    both engines weight identically) — the feature-engineering
    primitive behind recency-weighted LTV / trending scores.

    Weight is computed per-row inside whole-stage codegen (exp over
    integer µs age — no UDF), aggregated with map-side combine; the
    2-dp round absorbs summation-order and libm ulps.
    """
    e = load_table(spark, sf_dir, "events")
    anchor = F.lit("2024-02-01 00:00:00").cast("timestamp")
    age_us = (epoch_us(anchor) - epoch_us("ts")).cast("double")
    wgt = F.exp(-age_us / (7.0 * 86400.0 * 1000000.0))
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.sum(F.col("value") * wgt), 2).alias("decayed"),
            F.round(F.sum("value"), 2).alias("raw"),
        )
        .orderBy("event_type")
    )


@register(
    "q_seasonality_profile",
    oracle="""
WITH g AS (SELECT avg(value) AS gavg FROM events),
m AS (
  SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hh,
         count(*) AS n, avg(value) AS avg_v
  FROM events GROUP BY 1, 2
)
SELECT CAST(dow AS BIGINT) AS dow, CAST(hh AS BIGINT) AS hh,
  CAST(n AS BIGINT) AS n,
  round(avg_v, 4)           AS avg_v,
  round(avg_v - gavg, 4)    AS dev_from_global
FROM m, g ORDER BY dow, hh
""",
    tags=("H2", "D1", "C3"),
)
def q_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality heat-map feed: average event value by (day-of-week,
    hour-of-day) with deviation from the global mean — the load/
    behavior profile behind staffing and anomaly baselines.

    Two aggregates, one broadcast: the 168-cell matrix shuffles
    counters; the 1-row global mean joins back by broadcast. dayofweek
    numbering differs between engines (Spark 1=Sunday, DuckDB
    0=Sunday) — the oracle adds 1.
    """
    e = load_table(spark, sf_dir, "events")
    g = e.agg(F.avg("value").alias("gavg"))
    m = (
        e.groupBy(
            F.dayofweek("ts").cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hh"),
        )
        .agg(F.count("*").alias("n"), F.avg("value").alias("avg_v"))
    )
    return (
        m.crossJoin(F.broadcast(g))
        .select(
            "dow",
            "hh",
            "n",
            F.round("avg_v", 4).alias("avg_v"),
            F.round(F.col("avg_v") - F.col("gavg"), 4).alias("dev_from_global"),
        )
        .orderBy("dow", "hh")
    )


@register(
    "q_new_vs_returning",
    oracle="""
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS first_day
  FROM events GROUP BY user_id
),
daily AS (
  SELECT CAST(date_trunc('day', e.ts) AS DATE) AS d, e.user_id,
         max(CASE WHEN CAST(date_trunc('day', e.ts) AS DATE) = f.first_day
             THEN 1 ELSE 0 END) AS is_new
  FROM events e JOIN firsts f USING (user_id)
  GROUP BY 1, 2
)
SELECT d,
  CAST(count_if(is_new = 1) AS BIGINT) AS new_users,
  CAST(count_if(is_new = 0) AS BIGINT) AS returning_users
FROM daily GROUP BY d ORDER BY d
""",
    tags=("D1", "C3", "H2"),
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning daily active users: a user counts as new only
    on their first-ever activity day — the growth-accounting split
    behind every acquisition dashboard.

    Per-user first day is a tiny aggregate (|users| rows) broadcast
    back onto the daily-distinct grain; both aggregations are partial+
    final, so the shuffles move (user, day) pairs and user firsts,
    never raw events.
    """
    e = load_table(spark, sf_dir, "events")
    day = F.to_date("ts").alias("d")
    firsts = e.groupBy("user_id").agg(F.to_date(F.min("ts")).alias("first_day"))
    daily = (
        e.select(day, "user_id")
        .join(maybe_broadcast(firsts, sf_dir, "events"), "user_id")
        .groupBy("d", "user_id")
        .agg(
            F.max(
                F.when(F.col("d") == F.col("first_day"), 1).otherwise(0)
            ).alias("is_new")
        )
    )
    return (
        daily.groupBy("d")
        .agg(
            F.count_if(F.col("is_new") == 1).alias("new_users"),
            F.count_if(F.col("is_new") == 0).alias("returning_users"),
        )
        .orderBy("d")
    )


HOUR_US = 3_600_000_000


@register(
    "q_ohlc_bars",
    oracle=f"""
WITH p AS (
  SELECT epoch_us(ts) // {HOUR_US} AS hour_id,
         ts, event_id, round(value, 2) AS v
  FROM events WHERE event_type = 'purchase'
),
ranked AS (
  SELECT hour_id, v,
    row_number() OVER (PARTITION BY hour_id ORDER BY ts, event_id)       AS rn_a,
    row_number() OVER (PARTITION BY hour_id ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM p
)
SELECT hour_id,
  CAST(count(*) AS BIGINT)                  AS n_trades,
  max(CASE WHEN rn_a = 1 THEN v END)        AS open,
  max(v)                                    AS high,
  min(v)                                    AS low,
  max(CASE WHEN rn_d = 1 THEN v END)        AS close,
  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS volume_cents
FROM ranked GROUP BY hour_id ORDER BY hour_id
""",
    tags=("E2", "D7", "H2"),
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars over the purchase stream — the canonical
    downsampling shape for tick/event series (open and close are
    position-dependent, high/low/volume are plain aggregates).

    Open/close come from two row_number passes over the SAME hour_id
    shuffle (asc and desc with a full (ts, event_id) tie-break), then
    one hash aggregate — a single exchange end to end, which is the
    plan that holds at 1000 executors. min_by/max_by on a (ts,
    event_id) struct would also work in Spark but has no exact DuckDB
    twin, so both engines run the identical rank formulation.
    """
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        (epoch_us(F.col("ts")) / HOUR_US).cast("long").alias("hour_id"),
        "ts",
        "event_id",
        F.round("value", 2).alias("v"),
    )
    w_a = W.partitionBy("hour_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    w_d = W.partitionBy("hour_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    ranked = p.select(
        "hour_id",
        "v",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
    )
    return (
        ranked.groupBy("hour_id")
        .agg(
            F.count("*").alias("n_trades"),
            F.max(F.when(F.col("rn_a") == 1, F.col("v"))).alias("open"),
            F.max("v").alias("high"),
            F.min("v").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("v"))).alias("close"),
            F.sum(F.round(F.col("v") * 100, 0).cast("long")).alias("volume_cents"),
        )
        .orderBy("hour_id")
    )


@register(
    "q_funnel_windowed",
    oracle=f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
),
s1 AS (
  SELECT user_id, min(us) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.us) AS t2
  FROM ev e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.us > s1.t1 AND e.us <= s1.t1 + {24 * HOUR_US}
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.us) AS t3
  FROM ev e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.us > s2.t2 AND e.us <= s2.t2 + {24 * HOUR_US}
  GROUP BY e.user_id
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_view,
  (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_click_24h,
  (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_purchase_24h,
  round((SELECT count(*) FROM s3) * 1.0
        / nullif((SELECT count(*) FROM s1), 0), 4) AS conversion
""",
    tags=("E2", "C1", "D1"),
)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel with per-step timeouts: first view, then first
    click STRICTLY AFTER it within 24 h, then first purchase within
    24 h of that click. Unlike the unordered q_funnel, each stage is
    anchored to the previous stage's timestamp, so the dependency
    chain is sequential by construction.

    Each stage is a user-grain aggregate joined back to the events on
    the SAME user_id key — three equi-joins on one co-partitioned key,
    no window over raw events, no cross-stage data movement beyond the
    per-user scalars. The final scalars are three one-row aggregates
    cross-joined (driver-free, broadcast-trivial).
    """
    e = load_table(spark, sf_dir, "events")
    ev = e.select("user_id", "event_type", epoch_us(F.col("ts")).alias("us"))
    timeout = 24 * HOUR_US
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((F.col("us") > F.col("t1")) & (F.col("us") <= F.col("t1") + timeout))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("us") > F.col("t2")) & (F.col("us") <= F.col("t2") + timeout))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    n1 = s1.agg(F.count("*").alias("n_view"))
    n2 = s2.agg(F.count("*").alias("n_click_24h"))
    n3 = s3.agg(F.count("*").alias("n_purchase_24h"))
    return n1.crossJoin(n2).crossJoin(n3).select(
        "n_view",
        "n_click_24h",
        "n_purchase_24h",
        F.round(
            F.col("n_purchase_24h") / F.nullif(F.col("n_view"), F.lit(0)), 4
        ).alias("conversion"),
    )


@register(
    "q_session_window_fn",
    oracle="""
WITH e AS (
  -- session_window drops NULL-timestamp rows (no window assignable);
  -- the manual-islands oracle mirrors that explicitly
  SELECT user_id, epoch_us(ts) AS us FROM events WHERE ts IS NOT NULL
),
flagged AS (
  SELECT user_id, us,
    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
         OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
    THEN 1 ELSE 0 END AS brk
  FROM e
),
sess AS (
  SELECT user_id, us,
    sum(brk) OVER (PARTITION BY user_id ORDER BY us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
),
per AS (
  SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
         (max(us) - min(us)) // 1000000 AS span_s
  FROM sess GROUP BY user_id, sid
)
SELECT
  CAST(count(*) AS BIGINT)      AS n_sessions,
  CAST(sum(n_events) AS BIGINT) AS n_events,
  CAST(max(span_s) AS BIGINT)   AS max_span_s,
  CAST(sum(span_s) AS BIGINT)   AS sum_span_s
FROM per
""",
    tags=("I4", "E2", "D1"),
)
def q_session_window_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BATCH `session_window` function (the same gap-session
    operator Structured Streaming uses, applied to a static frame):
    groupBy(session_window(ts, '30 minutes'), user_id) merges
    overlapping per-event windows into gap-closed sessions inside the
    aggregation operator itself — no lag/flag/prefix-sum scaffolding.

    The oracle IS the manual islands sessionization (q_sessionize's
    algebra), so a green row proves the engine's built-in session
    semantics match the hand-built one exactly: same session count,
    same event totals, same spans (session_window's end includes the
    +30 min gap padding, so spans subtract it via last-event minus
    first-event within the window).
    """
    e = load_table(spark, sf_dir, "events")
    sw = F.session_window(F.col("ts"), "30 minutes")
    per = e.groupBy(sw.alias("sw"), "user_id").agg(
        F.count("*").alias("n_events"),
        (
            (epoch_us(F.max("ts")) - epoch_us(F.min("ts")))
            / 1_000_000
        )
        .cast("long")
        .alias("span_s"),
    )
    return per.agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("span_s").alias("max_span_s"),
        F.sum("span_s").alias("sum_span_s"),
    )


@register(
    "q_clamped_balance_fold",
    oracle="""
WITH mv AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
    CASE WHEN event_type = 'purchase'
         THEN CAST(round(value * 100) AS BIGINT)
         ELSE -CAST(round(value * 100) AS BIGINT) END AS delta
  FROM events WHERE event_type IN ('purchase', 'error')
),
folded AS (
  SELECT user_id,
    CAST(count(*) AS BIGINT) AS n_moves,
    CAST(list_reduce(
      list_prepend(0, list(delta ORDER BY us, event_id)),
      (acc, x) -> CASE WHEN acc + x > 0 THEN acc + x ELSE 0 END
    ) AS BIGINT) AS final_balance_cents
  FROM mv GROUP BY user_id
)
SELECT user_id, n_moves, final_balance_cents FROM folded ORDER BY user_id
""",
    tags=("E3", "H5", "B6"),
)
def q_clamped_balance_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running balance with a floor-at-zero clamp (inventory /
    prepaid-credit semantics: you can't go negative, and the clamp
    makes the recursion NONLINEAR — max(0, acc + x) — so unlike a
    plain running sum no prefix trick exists). Same fold machinery as
    e_ewma_fold: ordered per-key array + higher-order aggregate,
    integer cents, bit-exact on both engines.

    Purchases credit, errors debit; the fold result is each user's
    ending balance under clamping.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    mv = e.select(
        "user_id",
        epoch_us(F.col("ts")).alias("us"),
        "event_id",
        F.when(F.col("event_type") == "purchase", cents)
        .otherwise(-cents)
        .alias("delta"),
    )
    series = mv.groupBy("user_id").agg(
        F.count("*").alias("n_moves"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("us", "event_id", "delta"))),
            lambda s: s["delta"],
        ).alias("xs"),
    )
    fold = F.aggregate(
        "xs",
        F.lit(0).cast("long"),
        lambda acc, x: F.greatest(acc + x, F.lit(0).cast("long")),
    )
    return series.select(
        "user_id", "n_moves", fold.alias("final_balance_cents")
    ).orderBy("user_id")


@register(
    "q_user_life_table",
    oracle="""
WITH life AS (
  SELECT user_id,
    min(epoch_us(ts)) // 86400000000 AS d0,
    max(epoch_us(ts)) // 86400000000 AS d1
  FROM events GROUP BY user_id
),
ages AS (
  SELECT user_id, CAST(d1 - d0 AS BIGINT) AS last_age
  FROM life
),
per_age AS (
  SELECT last_age AS age, CAST(count(*) AS BIGINT) AS n_churned
  FROM ages GROUP BY last_age
),
curve AS (
  SELECT age, n_churned,
    CAST(sum(n_churned) OVER (ORDER BY age
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_at_risk
  FROM per_age
)
SELECT age, n_at_risk, n_churned,
  CAST((n_at_risk - n_churned) * 1000000 // n_at_risk AS BIGINT) AS survive_ppm
FROM curve ORDER BY age
""",
    tags=("D1", "E3", "H2"),
)
def q_user_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier-style life table at day-of-tenure grain (the
    fixtures span ~30 days, so days give the curve its resolution):
    each user's observed lifetime is last-event-day − first-event-day;
    per tenure age the table reports the at-risk population (users
    who survived INTO the day), churn count, and the conditional
    survival fraction in ppm — the retention-curve primitive.
    n_at_risk derives from one suffix sum over the (tiny) per-age
    churn histogram, so the user-grain shuffle happens exactly once
    and the source is scanned exactly once; integer day arithmetic
    is TZ-free on both engines.
    """
    e = load_table(spark, sf_dir, "events")
    life = (
        e.select("user_id", epoch_us("ts").alias("us"))
        .groupBy("user_id")
        .agg(
            F.expr("min(us) div 86400000000").alias("d0"),
            F.expr("max(us) div 86400000000").alias("d1"),
        )
    )
    ages = life.select(F.expr("d1 - d0").alias("last_age"))
    per_age = ages.groupBy(F.col("last_age").alias("age")).agg(
        F.count("*").alias("n_churned")
    )
    # at-risk = users surviving INTO the age = suffix sum of the churn
    # histogram — one events scan, one user shuffle, no separate
    # total-count branch (the cross-join form re-scanned the source)
    suffix = W.orderBy("age").rowsBetween(W.currentRow, W.unboundedFollowing)
    curve = per_age.select(
        "age",
        "n_churned",
        F.sum("n_churned").over(suffix).alias("n_at_risk"),
    )
    return curve.select(
        "age",
        "n_at_risk",
        "n_churned",
        F.expr("(n_at_risk - n_churned) * 1000000 div n_at_risk").alias("survive_ppm"),
    ).orderBy("age")


@register(
    "q_seq_pattern_support",
    oracle="""
WITH per AS (
  SELECT user_id, event_type,
    min(epoch_us(ts)) AS first_us,
    max(epoch_us(ts)) AS last_us
  FROM events GROUP BY user_id, event_type
),
tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM per)
SELECT a.event_type AS type_a, b.event_type AS type_b,
  CAST(count(*) AS BIGINT) AS support_users,
  CAST(count(*) * 1000000 // tot.n_users AS BIGINT) AS support_ppm
FROM per a JOIN per b
  ON a.user_id = b.user_id AND a.event_type <> b.event_type
CROSS JOIN tot
WHERE a.first_us < b.last_us
GROUP BY a.event_type, b.event_type, tot.n_users
ORDER BY type_a, type_b
""",
    tags=("D1", "C1", "E2"),
)
def q_seq_pattern_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern support: for each ordered type pair (A, B),
    how many users did A EVENTUALLY followed by B (some A-event
    strictly before some B-event) — the 2-item sequence-mining
    primitive behind 'browse → buy' style funnels without adjacency
    constraints (e_path_transitions counts only ADJACENT pairs).
    The user×type min/max rollup compresses each user to ≤5 rows, so
    the pair join is 25 pairs per user at most — linear in users,
    with eventual-follow reduced to first_A < last_B on the exact
    µs grid.
    """
    e = load_table(spark, sf_dir, "events")
    per = (
        e.select("user_id", "event_type", epoch_us("ts").alias("us"))
        .groupBy("user_id", "event_type")
        .agg(F.min("us").alias("first_us"), F.max("us").alias("last_us"))
    )
    tot = per.select(F.countDistinct("user_id").alias("n_users"))
    a = per.alias("a")
    b = per.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") != F.col("b.event_type")),
        )
        .filter(F.col("a.first_us") < F.col("b.last_us"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("support_users"))
    )
    return (
        pairs.crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "support_users",
            F.expr("support_users * 1000000 div n_users").alias("support_ppm"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "q_attribution_touch",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
    CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
purchases AS (SELECT user_id, us, event_id, cents FROM e WHERE event_type = 'purchase'),
touches AS (SELECT user_id, event_type, us, event_id FROM e WHERE event_type IN ('click', 'view')),
last_touch AS (
  SELECT user_id, pid, cents, channel FROM (
    SELECT p.user_id, p.event_id AS pid, p.cents, t.event_type AS channel,
      row_number() OVER (PARTITION BY p.user_id, p.event_id
                         ORDER BY t.us DESC, t.event_id DESC) AS rn
    FROM purchases p JOIN touches t
      ON p.user_id = t.user_id AND t.us <= p.us
  ) WHERE rn = 1
),
first_touch AS (
  SELECT user_id, event_type AS channel FROM (
    SELECT user_id, event_type,
      row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn
    FROM touches
  ) WHERE rn = 1
)
SELECT lt.channel,
  CAST(count(*) AS BIGINT) AS n_purchases,
  CAST(sum(lt.cents) AS BIGINT) AS last_touch_cents,
  CAST(sum(CASE WHEN ft.channel = lt.channel THEN lt.cents ELSE 0 END) AS BIGINT)
    AS also_first_touch_cents
FROM last_touch lt JOIN first_touch ft ON lt.user_id = ft.user_id
GROUP BY lt.channel ORDER BY lt.channel
""",
    tags=("C8", "E2", "D1"),
)
def q_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: every purchase credits its LAST
    preceding touch (click/view) — the backward as-of shape — and
    the report also shows how much of that credit coincides with the
    user's FIRST touch (the first-vs-last-touch divergence is the
    whole attribution-model debate in one number). The last-touch
    pick is a per-purchase argmax over prior touches on one user_id
    shuffle; purchases from users with no prior touch drop on both
    engines (unattributable).

    Scale note: the purchase×touch join is bounded per user; at
    100 TB the asof_join operator (union + carry window, one shuffle,
    no per-key blow-up) replaces the pair join — registered here in
    the relational formulation because the oracle mirrors it
    directly.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        epoch_us("ts").alias("us"),
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("us").alias("pus"), F.col("event_id").alias("pid"), "cents"
    )
    touches = e.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("channel"),
        F.col("us").alias("tus"),
        F.col("event_id").alias("tid"),
    )
    pairs = purchases.join(
        touches,
        (purchases.user_id == touches.t_user) & (touches.tus <= purchases.pus),
    )
    w = W.partitionBy("user_id", "pid").orderBy(F.desc("tus"), F.desc("tid"))
    last_touch = (
        pairs.select("user_id", "pid", "cents", "channel", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
    )
    w_first = W.partitionBy("t_user").orderBy("tus", "tid")
    first_touch = (
        touches.select("t_user", "channel", F.row_number().over(w_first).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(F.col("t_user").alias("f_user"), F.col("channel").alias("f_channel"))
    )
    return (
        last_touch.join(first_touch, last_touch.user_id == F.col("f_user"))
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum("cents").alias("last_touch_cents"),
            F.sum(
                F.when(F.col("f_channel") == F.col("channel"), F.col("cents")).otherwise(0)
            ).alias("also_first_touch_cents"),
        )
        .orderBy("channel")
    )


@register(
    "q_session_gap_sensitivity",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id FROM events
  WHERE ts IS NOT NULL
),
flagged AS (
  SELECT user_id,
    CASE WHEN us - lag(us) OVER w > 900000000
         OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS b15,
    CASE WHEN us - lag(us) OVER w > 1800000000
         OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS b30,
    CASE WHEN us - lag(us) OVER w > 3600000000
         OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS b60
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
)
SELECT
  CAST(sum(b15) AS BIGINT) AS sessions_15m,
  CAST(sum(b30) AS BIGINT) AS sessions_30m,
  CAST(sum(b60) AS BIGINT) AS sessions_60m,
  CAST(count(*) AS BIGINT) AS n_events
FROM flagged
""",
    tags=("I4", "E2", "D1"),
)
def q_session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization sensitivity: total session counts at 15/30/60
    minute gap thresholds — the calibration table analysts need
    before committing to a session definition (a knee in this curve
    IS the natural gap). All three thresholds evaluate on ONE lag
    over ONE user shuffle (session count = Σ break flags; the prefix
    sums that assign ids are unnecessary for counting) — three
    parameters for the price of one pass, the q_scenario_sweep
    discipline applied to a window operator.
    """
    # session gaps are event-time gaps: NULL ts dropped both sides
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", epoch_us("ts").alias("us"), "event_id")
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us").over(w)

    def brk(us_gap):
        return F.when(gap.isNull() | (gap > us_gap), 1).otherwise(0)

    flagged = e.select(
        brk(900000000).alias("b15"),
        brk(1800000000).alias("b30"),
        brk(3600000000).alias("b60"),
    )
    return flagged.agg(
        F.sum("b15").alias("sessions_15m"),
        F.sum("b30").alias("sessions_30m"),
        F.sum("b60").alias("sessions_60m"),
        F.count("*").alias("n_events"),
    )


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
        .over(W.orderBy("lat_us", "user_id", "event_id"))
        .alias("rn"),
        F.count("*").over(W.partitionBy()).alias("n"),
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
    "q_time_to_milestone",
    oracle="""
WITH p AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
    CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
cum AS (
  SELECT user_id, us, cents,
    sum(cents) OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
    min(us) OVER (PARTITION BY user_id) AS first_us
  FROM p
),
crossings AS (
  SELECT user_id, min(us - first_us) AS tt_us
  FROM cum WHERE c >= 50000
  GROUP BY user_id
),
ranked AS (
  SELECT tt_us,
    row_number() OVER (ORDER BY tt_us, user_id) AS rn,
    count(*) OVER () AS n
  FROM crossings
)
SELECT
  CAST(max(n) AS BIGINT) AS n_achievers,
  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN tt_us END) // 3600000000 AS BIGINT)
    AS median_hours,
  CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN tt_us END) // 3600000000 AS BIGINT)
    AS p90_hours
FROM ranked
""",
    tags=("E3", "D5", "D1"),
)
def q_time_to_milestone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-milestone: the first instant each user's cumulative
    purchases cross $500, measured from their first purchase — the
    activation-speed distribution (median / p90 hours) growth teams
    tune onboarding against. The crossing is min(time) over rows
    whose RUNNING SUM has passed the threshold — one user-ordered
    window (running cents and first-timestamp share the partition),
    then rank-exact percentiles over the per-user crossing times.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    p = e.select(
        "user_id",
        epoch_us("ts").alias("us"),
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w_cum = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_user = W.partitionBy("user_id")
    cum = p.select(
        "user_id",
        "us",
        F.sum("cents").over(w_cum).alias("c"),
        F.min("us").over(w_user).alias("first_us"),
    )
    crossings = (
        cum.filter(F.col("c") >= 50000)
        .groupBy("user_id")
        .agg(F.min(F.col("us") - F.col("first_us")).alias("tt_us"))
    )
    ranked = crossings.select(
        "tt_us",
        F.row_number().over(W.orderBy("tt_us", "user_id")).alias("rn"),
        F.count("*").over(W.partitionBy()).alias("n"),
    )
    return ranked.agg(
        F.max("n").alias("n_achievers"),
        F.expr(
            "max(CASE WHEN rn = (n + 1) div 2 THEN tt_us END) div 3600000000"
        ).alias("median_hours"),
        F.expr(
            "max(CASE WHEN rn = (9 * n + 9) div 10 THEN tt_us END) div 3600000000"
        ).alias("p90_hours"),
    )


@register(
    "q_growth_accounting",
    oracle="""
WITH um AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS m FROM events
  WHERE ts IS NOT NULL
),
fx AS (
  SELECT user_id, m,
    min(m) OVER (PARTITION BY user_id) AS first_m,
    lag(m) OVER (PARTITION BY user_id ORDER BY m) AS prev_m
  FROM um
),
cls AS (
  SELECT m,
    CASE WHEN m = first_m THEN 'new'
         WHEN prev_m = m - INTERVAL 7 DAY THEN 'retained'
         ELSE 'resurrected' END AS klass
  FROM fx
),
mau AS (SELECT m, count(*) AS mau FROM um GROUP BY m),
dec AS (
  SELECT m,
    count(*) FILTER (WHERE klass = 'new') AS new_users,
    count(*) FILTER (WHERE klass = 'retained') AS retained,
    count(*) FILTER (WHERE klass = 'resurrected') AS resurrected
  FROM cls GROUP BY m
)
SELECT strftime(dec.m, '%Y-%m-%d') AS week,
  CAST(mau.mau AS BIGINT) AS mau,
  CAST(dec.new_users AS BIGINT) AS new_users,
  CAST(dec.retained AS BIGINT) AS retained,
  CAST(dec.resurrected AS BIGINT) AS resurrected,
  (dec.new_users + dec.retained + dec.resurrected = mau.mau) AS conserved
FROM dec JOIN mau ON dec.m = mau.m
ORDER BY week
""",
    tags=("E2", "D1"),
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAU growth accounting: every week's active users decomposed
    into new (first-ever week), retained (also active the prior week)
    and resurrected (returning after a gap) — the decomposition every
    growth team reports, with its conservation law
    new + retained + resurrected = WAU emitted as an in-plan boolean.
    One distinct (user, week) grid, then first-week and lag windows
    on a single user_id shuffle; the per-week rollup is tiny."""
    # activity weeks come from event time: NULL ts dropped both sides
    # (a NULL week also makes DuckDB's window sort order — and thus its
    # lag() — nondeterministic across runs; measured on the nullts
    # fixture: 'retained' flipped to 'resurrected' in ~1/4 runs)
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    um = e.select("user_id", F.date_trunc("week", "ts").alias("m")).distinct()
    w_user = W.partitionBy("user_id")
    fx = um.select(
        "m",
        F.min("m").over(w_user).alias("first_m"),
        F.lag("m").over(w_user.orderBy("m")).alias("prev_m"),
    )
    cls = fx.select(
        "m",
        F.when(F.col("m") == F.col("first_m"), "new")
        .when(
            F.col("prev_m") == F.col("m") - F.expr("INTERVAL 7 DAY"), "retained"
        )
        .otherwise("resurrected")
        .alias("klass"),
    )
    dec = cls.groupBy("m").agg(
        F.count(F.when(F.col("klass") == "new", 1)).alias("new_users"),
        F.count(F.when(F.col("klass") == "retained", 1)).alias("retained"),
        F.count(F.when(F.col("klass") == "resurrected", 1)).alias("resurrected"),
    )
    mau = um.groupBy("m").agg(F.count("*").alias("mau"))
    return (
        dec.join(mau, "m")
        .select(
            F.date_format("m", "yyyy-MM-dd").alias("week"),
            "mau",
            "new_users",
            "retained",
            "resurrected",
            (
                F.col("new_users") + F.col("retained") + F.col("resurrected")
                == F.col("mau")
            ).alias("conserved"),
        )
        .orderBy("week")
    )


@register(
    "q_multi_touch_attribution",
    oracle="""
WITH touches AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
  FROM events WHERE event_type IN ('click', 'view', 'search')
),
conv AS (
  SELECT user_id,
    sum(CAST(round(value * 100, 0) AS BIGINT)) AS conv_cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
path AS (
  SELECT t.user_id, t.event_type, c.conv_cents,
    row_number() OVER (PARTITION BY t.user_id ORDER BY t.us, t.event_id) AS pos,
    count(*) OVER (PARTITION BY t.user_id) AS n
  FROM touches t JOIN conv c ON t.user_id = c.user_id
),
credit AS (
  SELECT user_id, event_type, pos, n, conv_cents,
    conv_cents * 1000 // n
      + CASE WHEN pos = n THEN conv_cents * 1000 - (conv_cents * 1000 // n) * n
        ELSE 0 END AS credit_milli
  FROM path
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_touches,
  CAST(sum(credit_milli) AS BIGINT) AS credit_millicents,
  ((SELECT sum(credit_milli) FROM credit)
   = (SELECT sum(conv_cents) * 1000 FROM conv
      WHERE user_id IN (SELECT DISTINCT user_id FROM touches)))
    AS conserved
FROM credit GROUP BY event_type ORDER BY event_type
""",
    tags=("E1", "D1"),
)
def q_multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution with EXACT conservation: each
    user's purchase revenue is split evenly across their click/view/
    search touches in millicents by integer division, and the division
    remainder is assigned to the LAST touch — so total credited
    millicents equals total converted revenue to the millicent, by
    construction, and the in-plan boolean proves it (the property
    float-divided attribution models silently lose). One path window
    per user + a broadcast-size conversion rollup."""
    e = load_table(spark, sf_dir, "events")
    touches = e.filter(F.col("event_type").isin("click", "view", "search")).select(
        "user_id", "event_id", "event_type", epoch_us("ts").alias("us")
    )
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "conv_cents"
            )
        )
    )
    w = W.partitionBy("user_id")
    path = touches.join(conv, "user_id").select(
        "user_id",
        "event_type",
        "conv_cents",
        F.row_number().over(w.orderBy("us", "event_id")).alias("pos"),
        F.count("*").over(w).alias("n"),
    )
    credit = path.select(
        "user_id",
        "event_type",
        "conv_cents",
        (
            F.expr("conv_cents * 1000 div n")
            + F.when(
                F.col("pos") == F.col("n"),
                F.expr("conv_cents * 1000 - (conv_cents * 1000 div n) * n"),
            ).otherwise(0)
        ).alias("credit_milli"),
    )
    total_credit = credit.agg(F.sum("credit_milli").alias("tc"))
    total_conv = (
        conv.join(touches.select("user_id").distinct(), "user_id")
        .agg((F.sum("conv_cents") * 1000).alias("tv"))
    )
    check = total_credit.crossJoin(total_conv).select(
        (F.col("tc") == F.col("tv")).alias("conserved")
    )
    return (
        credit.groupBy("event_type")
        .agg(
            F.count("*").alias("n_touches"),
            F.sum("credit_milli").alias("credit_millicents"),
        )
        .crossJoin(F.broadcast(check))
        .orderBy("event_type")
    )


@register(
    "q_littles_law",
    oracle="""
WITH sess AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
    min(epoch_us(ts)) AS st, max(epoch_us(ts)) + 1 AS en
  FROM events GROUP BY user_id, d
),
pts AS (
  SELECT st AS t, 1 AS delta FROM sess
  UNION ALL
  SELECT en AS t, -1 FROM sess
),
sweep AS (
  SELECT t,
    sum(delta) OVER (ORDER BY t, delta DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc,
    lead(t) OVER (ORDER BY t, delta DESC) AS nxt
  FROM pts
)
SELECT
  CAST((SELECT count(*) FROM sess) AS BIGINT) AS n_sessions,
  CAST((SELECT sum(en - st) FROM sess) AS BIGINT) AS total_duration_us,
  CAST(coalesce(sum(conc * (nxt - t)), 0) AS BIGINT) AS concurrency_integral_us,
  ((SELECT sum(en - st) FROM sess)
   = coalesce(sum(conc * (nxt - t)), 0)) AS littles_law_holds,
  CAST(max(conc) AS BIGINT) AS peak_concurrency
FROM sweep
""",
    tags=("E3", "D1"),
)
def q_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law as an exact integral identity: over the per-user
    daily activity sessions, the time-integral of the concurrency
    curve ∫N(t)dt must equal the sum of session durations — not
    approximately (the L = λW form with averages and divisions) but
    to the microsecond, because both sides count the same area. The
    sweep is the +1/−1 boundary technique (entry-before-exit tie
    order); the integral is Σ concurrency × segment length between
    consecutive boundaries. A pipeline uses the identity as the
    self-check that its concurrency monitor and its duration ledger
    agree."""
    e = load_table(spark, sf_dir, "events")
    sess = e.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        epoch_us(F.min("ts")).alias("st"),
        (epoch_us(F.max("ts")) + 1).alias("en"),
    )
    pts = sess.select(F.col("st").alias("t"), F.lit(1).alias("delta")).unionAll(
        sess.select(F.col("en").alias("t"), F.lit(-1).alias("delta"))
    )
    w = W.orderBy("t", F.desc("delta"))
    sweep = pts.select(
        "t",
        F.sum("delta")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("conc"),
        F.lead("t").over(w).alias("nxt"),
    )
    totals = sess.agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.col("en") - F.col("st")).alias("total_duration_us"),
    )
    integral = sweep.agg(
        F.coalesce(
            F.sum(F.col("conc") * (F.col("nxt") - F.col("t"))), F.lit(0)
        ).alias("concurrency_integral_us"),
        F.max("conc").alias("peak_concurrency"),
    )
    return totals.crossJoin(integral).select(
        "n_sessions",
        "total_duration_us",
        "concurrency_integral_us",
        (F.col("total_duration_us") == F.col("concurrency_integral_us")).alias(
            "littles_law_holds"
        ),
        "peak_concurrency",
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
    w = W.partitionBy("user_id").orderBy("st", "en")
    marked = iv.select(
        "user_id",
        "st",
        "en",
        F.when(
            F.col("st")
            > F.coalesce(
                F.max("en").over(w.rowsBetween(W.unboundedPreceding, -1)),
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
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
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
