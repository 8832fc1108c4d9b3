"""Round-3 widening batch: gaps-and-islands, robust statistics,
calendar-function parity, and schema-evolution reads.

Each entry covers a named gap in the §2 inventory: the
gaps-and-islands window composite (streak analytics — the one classic
window pattern sessionize doesn't cover), median-absolute-deviation
(robust dispersion beside stddev's moment statistics), the
month-arithmetic calendar functions (add_months/last_day semantics,
where both engines clamp to month end), and mergeSchema reads over a
directory whose files carry different column sets (the A-family
evolution case every long-lived table hits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.functions.timeutil import epoch_us
from parking_violations_data_pipeline_spark.registry import register

@register(
    "e_gap_islands",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id,
    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ep_day
  FROM events
),
isl AS (
  SELECT user_id, ep_day,
    ep_day - dense_rank() OVER (PARTITION BY user_id ORDER BY ep_day) AS grp
  FROM days
),
streaks AS (
  SELECT user_id, grp, count(*) AS len FROM isl GROUP BY user_id, grp
)
SELECT user_id, count(*) AS n_streaks,
  CAST(max(len) AS BIGINT) AS max_streak,
  CAST(sum(len) AS BIGINT) AS active_days
FROM streaks GROUP BY user_id ORDER BY user_id
""",
    tags=("E1", "E2", "D1", "H2"),
)
def e_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user consecutive-day activity streaks via
    the epoch_day − dense_rank() trick (equal within an unbroken run,
    jumps at every gap) — the classic streak/retention window pattern.

    All integers end-to-end (epoch days, ranks, counts). One shuffle
    on user_id serves the distinct, the window, and both stacked
    aggregations — the island id is derived, not self-joined.
    """
    e = load_table(spark, sf_dir, "events")
    days = e.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("ep_day"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("ep_day")
    isl = days.withColumn("grp", F.col("ep_day") - F.dense_rank().over(w))
    streaks = isl.groupBy("user_id", "grp").agg(F.count("*").alias("len"))
    return (
        streaks.groupBy("user_id")
        .agg(
            F.count("*").alias("n_streaks"),
            F.max("len").cast("long").alias("max_streak"),
            F.sum("len").cast("long").alias("active_days"),
        )
        .orderBy("user_id")
    )


@register(
    "d_mad_robust",
    oracle="""
WITH med AS (
  SELECT l_returnflag AS mf, median(l_quantity) AS med_qty
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
  round(m.med_qty, 6) AS med_qty,
  round(median(abs(l.l_quantity - m.med_qty)), 6) AS mad
FROM lineitem l JOIN med m ON m.mf = l.l_returnflag
GROUP BY l.l_returnflag, m.med_qty
ORDER BY l.l_returnflag
""",
    tags=("D5", "D8", "H3"),
)
def d_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust dispersion
    companion to d_numeric_stats' moment statistics (outlier fences
    that a single corrupt row can't move, unlike stddev).

    Two passes by construction (MAD is not one-pass): per-group exact
    median, broadcast back (groups-scale), then the median of absolute
    deviations. Quantities are integral doubles, so the interpolated
    medians land on the exact 0.5 grid in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    med = li.groupBy(F.col("l_returnflag").alias("mf")).agg(
        F.median("l_quantity").alias("med_qty")
    )
    return (
        li.join(F.broadcast(med), li.l_returnflag == med.mf)
        .groupBy("l_returnflag", "med_qty")
        .agg(
            F.round(F.median(F.abs(F.col("l_quantity") - F.col("med_qty"))), 6).alias(
                "mad"
            )
        )
        .select(
            "l_returnflag",
            F.round("med_qty", 6).alias("med_qty"),
            "mad",
        )
        .orderBy("l_returnflag")
    )


@register(
    "h_calendar_funcs",
    oracle="""
SELECT o_orderkey,
  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
  last_day(CAST(o_orderdate AS DATE)) AS eom,
  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
  CAST(weekofyear(o_orderdate) AS INT) AS woy,
  CAST(dayofyear(o_orderdate) AS INT) AS doy,
  CAST(quarter(o_orderdate) AS INT) AS qtr
FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey
""",
    tags=("H2",),
)
def h_calendar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2 widening: month arithmetic and calendar parts not covered by
    h_datetime_funcs — add_months (both engines clamp Jan 31 + 1m to
    month end), last_day, day-of-week (Spark is 1=Sunday, DuckDB
    0=Sunday — the oracle aligns with +1), ISO week, day-of-year,
    quarter. Pure projection; the predicate pushes to the scan.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.add_months(F.to_date("o_orderdate"), 3).alias("plus3m"),
        F.last_day(F.to_date("o_orderdate")).alias("eom"),
        F.dayofweek("o_orderdate").cast("int").alias("dow"),
        F.weekofyear("o_orderdate").cast("int").alias("woy"),
        F.dayofyear("o_orderdate").cast("int").alias("doy"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
    ).orderBy("o_orderkey")


@register(
    "e_time_range_frames",
    oracle="""
SELECT event_id,
  CAST(count(*) OVER w AS BIGINT) AS n_3h,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS cents_3h
FROM events
WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY event_type ORDER BY ts
             RANGE BETWEEN INTERVAL 3 HOUR PRECEDING AND CURRENT ROW)
ORDER BY event_id
""",
    tags=("E3", "H2"),
)
def e_time_range_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 widening: TIME-range window frames (RANGE BETWEEN INTERVAL …
    PRECEDING) — value-based frames over event time, which rowsBetween
    (e_running_frames) cannot express when events are irregular.

    Spark has no interval RANGE frame; ordering by exact epoch
    MICROseconds with rangeBetween(-3h_in_µs, 0) is the equivalent
    closed-bound frame at DuckDB's native timestamp precision (cast to
    seconds would disagree on sub-second boundaries). Peer rows with
    equal timestamps are included by the frame on both engines, so tie
    order can't matter.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(epoch_us("ts"))
        .rangeBetween(-3 * 3600 * 1_000_000, 0)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        e.select(
            "event_id",
            F.count("*").over(w).cast("long").alias("n_3h"),
            F.sum(cents).over(w).cast("long").alias("cents_3h"),
        )
        .orderBy("event_id")
    )


@register(
    "h_bitwise_funcs",
    oracle="""
SELECT l_returnflag,
  bit_xor(k) AS xor_k,
  bit_or(k & 1023) AS or_low,
  bit_and(k | 3) AS and_low,
  CAST(sum(bit_count(k)) AS BIGINT) AS popcount_sum
FROM (SELECT l_returnflag, l_orderkey * 8 + l_linenumber AS k FROM lineitem)
GROUP BY l_returnflag ORDER BY l_returnflag
""",
    tags=("H3", "D1"),
)
def h_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3 widening: bitwise scalar ops (&, |, bit_count) and the
    bitwise aggregate family (bit_xor / bit_or / bit_and) — the
    building blocks of bitmap indexes and XOR-based checksums
    (bit_xor over a key set is an order-independent set digest, the
    cheap integrity check for partition moves at 100 TB).

    The key packs (orderkey, linenumber) into one int64; every op is
    exact integer arithmetic, identical across engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    k = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    return (
        li.select("l_returnflag", k.alias("k"))
        .groupBy("l_returnflag")
        .agg(
            F.expr("bit_xor(k)").alias("xor_k"),
            F.expr("bit_or(k & 1023)").alias("or_low"),
            F.expr("bit_and(k | 3)").alias("and_low"),
            F.expr("sum(bit_count(k))").cast("long").alias("popcount_sum"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "c_nullsafe_join",
    oracle="""
WITH ev AS (
  SELECT event_id,
    CASE WHEN CAST(json_extract(CASE WHEN json_valid(props) THEN props END, '$.k') AS INT) % 3 = 0 THEN NULL
         ELSE CAST(json_extract(CASE WHEN json_valid(props) THEN props END, '$.k') AS INT) % 5 END AS kmod
  FROM events WHERE event_type = 'purchase'
),
dim AS (
  SELECT DISTINCT
    CASE WHEN CAST(json_extract(CASE WHEN json_valid(props) THEN props END, '$.k') AS INT) % 3 = 0 THEN NULL
         ELSE CAST(json_extract(CASE WHEN json_valid(props) THEN props END, '$.k') AS INT) % 5 END AS dkey
  FROM events WHERE event_type = 'click'
)
SELECT ev.kmod, count(*) AS cnt
FROM ev JOIN dim ON ev.kmod IS NOT DISTINCT FROM dim.dkey
GROUP BY ev.kmod ORDER BY ev.kmod NULLS FIRST
""",
    tags=("C1", "B5", "H7"),
)
def c_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (Spark `<=>` == SQL IS NOT DISTINCT FROM):
    NULL keys MATCH each other instead of vanishing — the semantics a
    dimension join needs when 'unknown' is itself a valid bucket.
    The key derives guaranteed NULLs from the JSON payload (k≡0 mod 3
    → NULL); a plain equi-join would silently drop that whole group.
    Catalyst still plans a broadcast hash join on the null-safe key.
    """
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    kmod = F.when(k % 3 == 0, F.lit(None).cast("int")).otherwise(k % 5)
    ev = e.filter(F.col("event_type") == "purchase").select(
        "event_id", kmod.alias("kmod")
    )
    dim = (
        e.filter(F.col("event_type") == "click")
        .select(kmod.alias("dkey"))
        .distinct()
    )
    return (
        ev.join(F.broadcast(dim), ev.kmod.eqNullSafe(dim.dkey))
        .groupBy("kmod")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.asc_nulls_first("kmod"))
    )


@register(
    "etl_winsorize",
    oracle="""
WITH q AS (
  SELECT l_returnflag AS qf,
         quantile_cont(l_extendedprice, 0.05) AS p05,
         quantile_cont(l_extendedprice, 0.95) AS p95
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
  CAST(sum(CASE WHEN l.l_extendedprice < q.p05 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_capped_low,
  CAST(sum(CASE WHEN l.l_extendedprice > q.p95 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_capped_high,
  CAST(round(sum(round(
        greatest(least(l.l_extendedprice, q.p95), q.p05) * 100)) / 100.0, 2)
       AS DOUBLE) AS capped_total
FROM lineitem l JOIN q ON q.qf = l.l_returnflag
GROUP BY l.l_returnflag ORDER BY l.l_returnflag
""",
    tags=("D5", "B6", "H3"),
)
def etl_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — the robust-clean ETL step that clamps each
    group's values into its [p05, p95] band before aggregation (the
    outlier treatment that, unlike dropping, preserves row counts).

    Exact interpolated quantiles (the engine-identical quantile_cont /
    percentile form d_percentile_median established) broadcast back
    per group; each row's clamped value is rounded to exact cents
    BEFORE summation, so the capped totals are boundary-stable.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    q = li.groupBy(F.col("l_returnflag").alias("qf")).agg(
        F.percentile("l_extendedprice", 0.05).alias("p05"),
        F.percentile("l_extendedprice", 0.95).alias("p95"),
    )
    j = li.join(F.broadcast(q), li.l_returnflag == q.qf)
    capped = F.greatest(F.least("l_extendedprice", F.col("p95")), F.col("p05"))
    return (
        j.groupBy("l_returnflag")
        .agg(
            F.sum(F.when(F.col("l_extendedprice") < F.col("p05"), 1).otherwise(0))
            .cast("long")
            .alias("n_capped_low"),
            F.sum(F.when(F.col("l_extendedprice") > F.col("p95"), 1).otherwise(0))
            .cast("long")
            .alias("n_capped_high"),
            F.round(F.sum(F.round(capped * 100)) / 100.0, 2)
            .cast("double")
            .alias("capped_total"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "etl_schema_evolution",
    oracle="""
SELECT count(*) AS n_rows,
  CAST(count(*) FILTER (WHERE event_type IS NULL) AS BIGINT) AS legacy_rows,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM (
  SELECT value, NULL AS event_type FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT value, event_type FROM events WHERE event_id % 2 = 1
)
""",
    tags=("A1", "A5", "B5"),
)
def etl_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a long-lived table: a v1 write (event_id,
    value) and a v2 write that added event_type land in the same
    directory; mergeSchema=true reads the union schema with NULLs for
    the legacy files' missing column.

    The oracle reproduces the union-with-missing-column shape in SQL.
    At 100 TB this read path is what makes adding a column a metadata
    operation instead of a table rewrite; the per-file schemas come
    from parquet footers, so the merge cost is footers-only.
    """
    path = scratch("schema_evo", sf_dir)
    e = load_table(spark, sf_dir, "events").select("event_id", "value", "event_type")
    v1 = e.filter(F.col("event_id") % 2 == 0).select("event_id", "value")
    v2 = e.filter(F.col("event_id") % 2 == 1)
    v1.write.mode("overwrite").parquet(path)
    v2.write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("event_type").isNull(), 1)).cast("long").alias(
            "legacy_rows"
        ),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


@register(
    "d_regression",
    oracle="""
SELECT event_type,
  CAST(regr_count(value, ep_hour) AS BIGINT) AS n,
  round(regr_slope(value, ep_hour), 6) AS slope,
  round(regr_intercept(value, ep_hour), 4) AS intercept,
  round(regr_r2(value, ep_hour), 6) AS r2
FROM (
  SELECT event_type, value,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS DOUBLE) AS ep_hour
  FROM events
)
GROUP BY event_type ORDER BY event_type
""",
    tags=("D8", "H2"),
)
def d_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 widening: the SQL-standard linear-regression aggregates
    (regr_slope / regr_intercept / regr_r2) — value drift over time
    per event type, the trend test behind e_anomaly_zscore's level
    test. x is the exact integer hour index (epoch µs // 3600e6) so
    both engines regress on identical abscissae; moments differ only
    in summation-order ulps, absorbed by the per-column rounding.
    """
    e = load_table(spark, sf_dir, "events")
    x = (epoch_us("ts") / F.lit(3600000000)).cast("long").cast("double")
    return (
        e.select("event_type", F.col("value"), x.alias("ep_hour"))
        .groupBy("event_type")
        .agg(
            F.regr_count("value", "ep_hour").cast("long").alias("n"),
            F.round(F.regr_slope("value", "ep_hour"), 6).alias("slope"),
            F.round(F.regr_intercept("value", "ep_hour"), 4).alias("intercept"),
            F.round(F.regr_r2("value", "ep_hour"), 6).alias("r2"),
        )
        .orderBy("event_type")
    )


@register(
    "etl_merge_upsert",
    oracle="""
WITH src AS (
  SELECT c_custkey, c_acctbal + 100.0 AS new_bal
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT c_custkey + (SELECT max(c_custkey) FROM customer), 42.0
  FROM customer WHERE c_custkey % 10 = 0
),
merged AS (
  SELECT coalesce(s.c_custkey, t.c_custkey) AS k,
         coalesce(s.new_bal, t.c_acctbal) AS bal,
         CASE WHEN t.c_custkey IS NULL THEN 'insert'
              WHEN s.c_custkey IS NULL THEN 'unchanged'
              ELSE 'update' END AS action
  FROM customer t FULL JOIN src s ON s.c_custkey = t.c_custkey
)
SELECT action, count(*) AS cnt,
  CAST(sum(CAST(round(bal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM merged GROUP BY action ORDER BY action
""",
    tags=("C2", "B5", "G1"),
)
def etl_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-write-wins MERGE (upsert): one FULL OUTER join + coalesce
    materializes the merged table — matched rows take the source
    value, unmatched-target rows persist, unmatched-source rows
    insert. The simpler sibling of etl_scd2_merge (which versions
    instead of overwriting); per-action counts + exact cents checksums
    prove each branch. One shuffle on the merge key; at 100 TB both
    sides bucket/sort on that key to make the merge exchange-free.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    mx = c.agg(F.max("c_custkey").alias("mx"))
    # source key gets its own name up front: src and target share the
    # customer lineage, and a same-name join key would be ambiguous
    updates = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("sk"), (F.col("c_acctbal") + 100.0).alias("new_bal")
    )
    inserts = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .join(F.broadcast(mx))
        .select(
            (F.col("c_custkey") + F.col("mx")).alias("sk"),
            F.lit(42.0).alias("new_bal"),
        )
    )
    src = updates.unionByName(inserts)
    t = c.select(F.col("c_custkey").alias("tk"), "c_acctbal")
    merged = t.join(src, t.tk == src.sk, "full").select(
        F.coalesce(src.new_bal, t.c_acctbal).alias("bal"),
        F.when(t.tk.isNull(), "insert")
        .when(src.sk.isNull(), "unchanged")
        .otherwise("update")
        .alias("action"),
    )
    return (
        merged.groupBy("action")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.round(F.col("bal") * 100).cast("long")).alias("bal_cents"),
        )
        .orderBy("action")
    )


@register(
    "j_lsh_tuning_curve",
    oracle="""
SELECT b, r, s,
  round(1 - pow(1 - pow(s, r), b), 6) AS p_candidate,
  round(pow(1.0 / b, 1.0 / r), 4) AS s_threshold
FROM (VALUES (8, 16), (16, 8), (32, 4), (64, 2)) AS cfg(b, r)
CROSS JOIN (VALUES (0.2), (0.4), (0.5), (0.6), (0.8)) AS sim(s)
ORDER BY b, s
""",
    tags=("J6", "H3"),
)
def j_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH design table: candidate probability
    p = 1-(1-s^r)^b and the S-curve threshold (1/b)^(1/r) for each
    (bands, rows) split of a 128-hash signature — the tool that picks
    operators/dedup.py's banding before a 100-TB run (choose the row
    whose threshold brackets the target Jaccard, read off the false
    negative rate at the cut). Pure closed-form math, identical pow()
    on both engines.
    """
    cfgs = F.array(
        *[
            F.struct(F.lit(b).alias("b"), F.lit(r).alias("r"))
            for b, r in [(8, 16), (16, 8), (32, 4), (64, 2)]
        ]
    )
    sims = F.array(*[F.lit(s) for s in [0.2, 0.4, 0.5, 0.6, 0.8]])
    one = spark.range(1)
    return (
        one.select(F.explode(cfgs).alias("cfg"))
        .select(F.col("cfg.b").alias("b"), F.col("cfg.r").alias("r"))
        .select("b", "r", F.explode(sims).alias("s"))
        .select(
            "b",
            "r",
            "s",
            F.round(
                1 - F.pow(1 - F.pow(F.col("s"), F.col("r")), F.col("b")), 6
            ).alias("p_candidate"),
            F.round(F.pow(1.0 / F.col("b"), 1.0 / F.col("r")), 4).alias(
                "s_threshold"
            ),
        )
        .orderBy("b", "s")
    )
