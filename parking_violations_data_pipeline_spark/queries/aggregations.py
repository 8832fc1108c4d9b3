"""D-family entries: aggregation and statistics. Grouped, bitwise and
boolean aggregates; drift, independence and hypothesis tests; rank
correlations; bootstrap intervals; concentration, dispersion and
distribution-shape measures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table, maybe_broadcast
from parking_violations_data_pipeline_spark.functions.timeutil import hourly_cents
from parking_violations_data_pipeline_spark.registry import register


@register(
    "d_count_if",
    oracle="""
SELECT event_type,
  CAST(count_if(value > 50) AS BIGINT)                  AS n_big,
  CAST(count(*) FILTER (WHERE value <= 50) AS BIGINT)   AS n_small,
  round(avg(value) FILTER (WHERE value > 50), 4)        AS avg_big,
  round(sum(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase_sum
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("D1", "B6"),
)
def d_count_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregates — count_if and FILTER-clause style
    aggregation (SQL:2003 <filter clause>) in one pass.

    Spark expresses FILTER as agg-over-CASE (F.when with no otherwise
    → NULL, ignored by sum/avg/count): one scan, one shuffle on the
    group key, partial aggregation map-side. No second pass per
    condition — this is the idiom that keeps multi-metric scorecards
    at one shuffle at 100 TB.
    """
    e = load_table(spark, sf_dir, "events")
    big = F.when(F.col("value") > 50, F.col("value"))
    return (
        e.groupBy("event_type")
        .agg(
            F.count_if(F.col("value") > 50).alias("n_big"),
            F.count(F.when(F.col("value") <= 50, 1)).alias("n_small"),
            F.round(F.avg(big), 4).alias("avg_big"),
            F.round(
                F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))), 2
            ).alias("purchase_sum"),
        )
        .orderBy("event_type")
    )


@register(
    "d_grouping_id_matrix",
    oracle="""
SELECT
  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS flag,
  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS status,
  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)  AS gid,
  CAST(count(*) AS BIGINT) AS cnt,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY gid, flag, status
""",
    tags=("D4", "B6"),
)
def d_grouping_id_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping()/grouping_id() disambiguation: subtotal
    rows are labeled 'ALL' instead of NULL, so margin rows are
    distinguishable from genuine NULL dimension values — the detail
    D4's rollup/cube entries punt on, and the thing that makes cube
    output safe to join downstream.

    One expand + one aggregation; the cube's 4 grouping sets multiply
    rows only at the (tiny) group-key grain, never the fact grain.
    """
    from parking_violations_data_pipeline_spark.queries.relational import (
        with_sql_empty_grand_total,
    )

    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    g = li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").alias("cnt"),
        F.sum(cents).alias("cents"),
    )
    grand = li.agg(F.count("*").alias("cnt"), F.sum(cents).alias("cents")).select(
        F.lit(None).cast("string").alias("l_returnflag"),
        F.lit(None).cast("string").alias("l_linestatus"),
        F.lit(3).cast("long").alias("gid"),
        "cnt",
        "cents",
    )
    g = with_sql_empty_grand_total(g, grand)
    # grouping_id bit order: first cube column = most significant bit,
    # matching the oracle's GROUPING(flag)*2 + GROUPING(status).
    flag = F.when(F.col("gid").bitwiseAND(F.lit(2)) != 0, F.lit("ALL")).otherwise(
        F.col("l_returnflag")
    )
    status = F.when(F.col("gid").bitwiseAND(F.lit(1)) != 0, F.lit("ALL")).otherwise(
        F.col("l_linestatus")
    )
    return g.select(
        flag.alias("flag"), status.alias("status"), "gid", "cnt", "cents"
    ).orderBy("gid", "flag", "status")


@register(
    "d_ks_drift",
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
cum AS (
  SELECT
    sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
    sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
    sum(c1) OVER () AS n1,
    sum(c2) OVER () AS n2
  FROM per
)
SELECT CAST(max(n1) AS BIGINT) AS n_early,
       CAST(max(n2) AS BIGINT) AS n_late,
       round(max(abs(cum1 * 1.0 / n1 - cum2 * 1.0 / n2)), 6) AS ks_stat
FROM cum
""",
    tags=("D1", "E3", "J2"),
)
def d_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic: purchase-value
    distribution of the first half of the month vs the second half.

    KS = max_x |F1(x) − F2(x)|. The scan aggregates to the DISTINCT
    VALUE grain first (one shuffle on `v`), so the ordered prefix-sum
    that builds both ECDFs runs over |distinct values| rows, not |rows|
    — at 100 TB you bin `v` to a fixed grid (the round(…, 2) here IS
    that grid) and the final window sees a bounded series regardless of
    input size. The default RANGE frame would also work; ROWS over the
    distinct grain is explicit on both engines.
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
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cum = per.select(
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c2").over(wall).alias("n2"),
    )
    return cum.agg(
        F.max("n1").alias("n_early"),
        F.max("n2").alias("n_late"),
        # try_divide: a sample with zero rows on one side has no ECDF
        # (NULL, like DuckDB /0), not an ANSI abort
        F.round(
            F.max(
                F.abs(
                    F.try_divide(F.col("cum1"), F.col("n1"))
                    - F.try_divide(F.col("cum2"), F.col("n2"))
                )
            ),
            6,
        ).alias("ks_stat"),
    )


@register(
    "d_psi_drift",
    oracle="""
WITH s AS (
  SELECT least(CAST(floor(value / 30) AS BIGINT), 9) AS bin,
         CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS ref
  FROM events WHERE event_type = 'purchase'
),
per AS (
  SELECT bin, CAST(sum(ref) AS BIGINT) AS n_ref,
         CAST(sum(1 - ref) AS BIGINT) AS n_cur
  FROM s GROUP BY bin
),
tot AS (
  SELECT bin, n_ref, n_cur,
         sum(n_ref) OVER () AS t_ref, sum(n_cur) OVER () AS t_cur
  FROM per
)
SELECT bin, n_ref, n_cur,
  round(((n_cur + 1.0) / (t_cur + 10.0) - (n_ref + 1.0) / (t_ref + 10.0))
        * ln(((n_cur + 1.0) / (t_cur + 10.0)) / ((n_ref + 1.0) / (t_ref + 10.0))),
        6) AS psi_term
FROM tot ORDER BY bin
""",
    tags=("D1", "J2"),
)
def d_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the month's first half
    (reference) and second half (current) over 10 fixed-width value
    bins — the standard feature-drift alarm for model pipelines.

    Laplace smoothing ((n+1)/(N+bins)) keeps empty bins finite and
    deterministic on both engines. One shuffle to the bin grain; the
    `sum OVER ()` totals run over 10 rows. PSI > 0.25 is the usual
    "retrain" threshold; emitting per-bin terms (not just the total)
    localizes WHICH value range drifted.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    s = e.select(
        F.least(F.floor(F.col("value") / 30).cast("long"), F.lit(9).cast("long")).alias(
            "bin"
        ),
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0).alias("ref"),
    )
    per = s.groupBy("bin").agg(
        F.sum("ref").alias("n_ref"),
        F.sum(1 - F.col("ref")).alias("n_cur"),
    )
    wall = W.partitionBy()
    tot = per.select(
        "bin",
        "n_ref",
        "n_cur",
        F.sum("n_ref").over(wall).alias("t_ref"),
        F.sum("n_cur").over(wall).alias("t_cur"),
    )
    p_ref = (F.col("n_ref") + 1.0) / (F.col("t_ref") + 10.0)
    p_cur = (F.col("n_cur") + 1.0) / (F.col("t_cur") + 10.0)
    return tot.select(
        "bin",
        "n_ref",
        "n_cur",
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_term"),
    ).orderBy("bin")


@register(
    "d_benford_profile",
    oracle="""
WITH d AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit
  FROM orders WHERE o_totalprice >= 1
),
per AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n,
         sum(count(*)) OVER () AS total
  FROM d GROUP BY digit
)
SELECT digit, n,
  round(n * 1.0 / total, 6)          AS share,
  round(log10(1 + 1.0 / digit), 6)   AS benford_p,
  round(total * pow(n * 1.0 / total - log10(1 + 1.0 / digit), 2)
        / log10(1 + 1.0 / digit), 4) AS chi2_term
FROM per ORDER BY digit
""",
    tags=("D1", "H3"),
)
def d_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit profile of order totals — the classic
    data-quality / fraud screen: natural multi-scale amounts follow
    P(d) = log10(1 + 1/d); synthetic or truncated feeds don't.

    The leading digit comes from the decimal STRING of the integer
    part, not floor(x / 10^floor(log10 x)) — string extraction is
    exact on both engines while log10-of-a-power-of-ten sits on a
    floating-point knife edge. One shuffle to 9 groups; the chi-square
    contribution per digit localizes the distortion.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(F.floor("o_totalprice").cast("long").cast("string"), 1, 1)
        .cast("long")
        .alias("digit")
    )
    per = d.groupBy("digit").agg(F.count("*").alias("n"))
    per = per.select("digit", "n", F.sum("n").over(W.partitionBy()).alias("total"))
    share = F.col("n") / F.col("total")
    benford = F.log10(1 + 1.0 / F.col("digit"))
    return per.select(
        "digit",
        "n",
        F.round(share, 6).alias("share"),
        F.round(benford, 6).alias("benford_p"),
        F.round(F.col("total") * F.pow(share - benford, 2) / benford, 4).alias(
            "chi2_term"
        ),
    ).orderBy("digit")


@register(
    "d_chi2_independence",
    oracle="""
WITH obs AS (
  SELECT event_type, CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END AS cohort,
         CAST(count(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2
),
margins AS (
  SELECT event_type, cohort, o,
    sum(o) OVER (PARTITION BY event_type) AS row_tot,
    sum(o) OVER (PARTITION BY cohort)     AS col_tot,
    sum(o) OVER ()                        AS n
  FROM obs
)
SELECT event_type, cohort, o,
  round(row_tot * col_tot * 1.0 / n, 4)  AS expected,
  round(pow(o - row_tot * col_tot * 1.0 / n, 2) / (row_tot * col_tot * 1.0 / n),
        6) AS chi2_term
FROM margins ORDER BY event_type, cohort
""",
    tags=("D1", "D4"),
)
def d_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event_type and month
    half — the categorical drift alarm: has the MIX of event types
    changed between cohorts, not just their volumes. Completes the
    drift suite (KS/Mann-Whitney: numeric; PSI: binned numeric;
    centroid: embeddings; this: categorical×cohort contingency).

    The contingency table is one groupBy at (type, cohort) grain; row,
    column, and grand totals are windows over that tiny table, never a
    second pass over events. Expected counts and chi² terms are exact
    integer ratios until the final division. Per-cell terms (not just
    the statistic) localize WHICH type drove the dependence.
    """
    e = load_table(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type",
        F.when(F.dayofmonth("ts") <= 15, 0).otherwise(1).alias("cohort"),
    ).agg(F.count("*").alias("o"))
    margins = obs.select(
        "event_type",
        "cohort",
        "o",
        F.sum("o").over(W.partitionBy("event_type")).alias("row_tot"),
        F.sum("o").over(W.partitionBy("cohort")).alias("col_tot"),
        F.sum("o").over(W.partitionBy()).alias("n"),
    )
    expected = F.col("row_tot") * F.col("col_tot") / F.col("n")
    return margins.select(
        "event_type",
        "cohort",
        "o",
        F.round(expected, 4).alias("expected"),
        F.round(F.pow(F.col("o") - expected, 2) / expected, 6).alias("chi2_term"),
    ).orderBy("event_type", "cohort")


@register(
    "d_ab_proportions_ztest",
    oracle="""
WITH assign AS (
  SELECT user_id,
         min(CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END) AS grp,
         CAST(max(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS BIGINT)
           AS converted
  FROM events GROUP BY user_id
),
cells AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(converted) AS BIGINT) AS conv
  FROM assign GROUP BY grp
),
wide AS (
  SELECT
    max(CASE WHEN grp = 'A' THEN n END)    AS n_a,
    max(CASE WHEN grp = 'A' THEN conv END) AS conv_a,
    max(CASE WHEN grp = 'B' THEN n END)    AS n_b,
    max(CASE WHEN grp = 'B' THEN conv END) AS conv_b
  FROM cells
)
SELECT n_a, conv_a, n_b, conv_b,
  round(conv_a * 1.0 / n_a, 6) AS p_a,
  round(conv_b * 1.0 / n_b, 6) AS p_b,
  round((conv_a * 1.0 / n_a - conv_b * 1.0 / n_b)
        / sqrt(((conv_a + conv_b) * 1.0 / (n_a + n_b))
               * (1 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
               * (1.0 / n_a + 1.0 / n_b)), 4) AS z_score
FROM wide
""",
    tags=("D1", "B6"),
)
def d_ab_proportions_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test — the experiment-analysis primitive:
    split users into deterministic A/B arms (user_id parity; in
    production, the assignment hash), measure per-user conversion
    (any purchase above 150), and test the difference under the pooled standard
    error. Completes the hypothesis-testing shelf: KS/Mann-Whitney for
    numerics, chi² for categories, this for conversion rates.

    Per-user conversion is ONE aggregation at user grain (max of an
    indicator — dedups multiple purchases without a distinct), the
    2×2 cells are a second tiny aggregation, and the pivot to one row
    is conditional max — no joins, no second scan of events. All
    arithmetic is integer until the final ratios.
    """
    e = load_table(spark, sf_dir, "events")
    assign = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("user_id") % 2 == 0, "A").otherwise("B")
        ).alias("grp"),
        F.max(
            F.when((F.col("event_type") == "purchase") & (F.col("value") > 150), 1).otherwise(0)
        ).alias("converted"),
    )
    cells = assign.groupBy("grp").agg(
        F.count("*").alias("n"), F.sum("converted").alias("conv")
    )
    wide = cells.agg(
        F.max(F.when(F.col("grp") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("grp") == "A", F.col("conv"))).alias("conv_a"),
        F.max(F.when(F.col("grp") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("grp") == "B", F.col("conv"))).alias("conv_b"),
    )
    # try_divide throughout: a missing arm (n_a/n_b NULL or 0 on a
    # degenerate feed) must yield NULL ratios, matching the oracle's
    # SQL `/` which is NULL-on-zero in DuckDB — not an ANSI abort
    p_a = F.try_divide(F.col("conv_a"), F.col("n_a"))
    p_b = F.try_divide(F.col("conv_b"), F.col("n_b"))
    pool = F.try_divide(
        F.col("conv_a") + F.col("conv_b"), F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pool
        * (1 - pool)
        * (F.try_divide(F.lit(1.0), F.col("n_a"))
           + F.try_divide(F.lit(1.0), F.col("n_b")))
    )
    return wide.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(p_a, 6).alias("p_a"),
        F.round(p_b, 6).alias("p_b"),
        F.round(F.try_divide(p_a - p_b, se), 4).alias("z_score"),
    )


@register(
    "d_weighted_median",
    oracle="""
WITH grain AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT l_returnflag, cents, w,
    sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
    sum(w) OVER (PARTITION BY l_returnflag)                        AS totw
  FROM grain
)
SELECT l_returnflag,
  CAST(min(CASE WHEN cumw * 2 >= totw THEN cents END) AS BIGINT) AS median_cents,
  CAST(max(totw) AS BIGINT)                                      AS total_weight,
  CAST(count(*) AS BIGINT)                                       AS n_distinct_values
FROM cum GROUP BY l_returnflag ORDER BY l_returnflag
""",
    tags=("D5", "E3"),
)
def d_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-weighted median (lower weighted median: the smallest
    value whose cumulative weight reaches half the total) — quantity-
    weighted price midpoint per return flag. Integer comparison
    `cumw*2 >= totw` keeps the threshold exact; no 0.5·total double.

    The 100 TB shape: aggregate to DISTINCT-VALUE grain first (price
    cents × summed quantity), so the prefix-sum window runs over the
    compressed series, not the raw rows — same compression trick as
    d_ks_drift. Spark's percentile(col, p, freq) exists but its
    interpolation has no exact cross-engine twin; this formulation is
    definitionally identical on both engines.
    """
    l = load_table(spark, sf_dir, "lineitem")
    grain = l.groupBy(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("cents"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("w"))
    w_cum = (
        W.partitionBy("l_returnflag")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    w_all = W.partitionBy("l_returnflag")
    cum = grain.select(
        "l_returnflag",
        "cents",
        "w",
        F.sum("w").over(w_cum).alias("cumw"),
        F.sum("w").over(w_all).alias("totw"),
    )
    return (
        cum.groupBy("l_returnflag")
        .agg(
            F.min(
                F.when(F.col("cumw") * 2 >= F.col("totw"), F.col("cents"))
            ).alias("median_cents"),
            F.max("totw").alias("total_weight"),
            F.count("*").alias("n_distinct_values"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "d_partial_agg_merge",
    oracle="""
WITH t AS (
  SELECT l_orderkey % 2 AS shard, l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
),
partials AS (
  SELECT shard, l_returnflag,
    CAST(count(*) AS BIGINT)                   AS n,
    CAST(sum(cents) AS BIGINT)                 AS s,
    CAST(min(cents) AS BIGINT)                 AS lo,
    CAST(max(cents) AS BIGINT)                 AS hi,
    sum(CAST(cents AS HUGEINT) * cents)        AS ss
  FROM t GROUP BY shard, l_returnflag
),
merged AS (
  SELECT l_returnflag,
    CAST(sum(n) AS BIGINT)  AS n,
    CAST(sum(s) AS BIGINT)  AS sum_cents,
    CAST(min(lo) AS BIGINT) AS min_cents,
    CAST(max(hi) AS BIGINT) AS max_cents,
    CAST(sum(ss) AS DOUBLE) AS sumsq
  FROM partials GROUP BY l_returnflag
)
SELECT l_returnflag, n, sum_cents, min_cents, max_cents,
  sumsq / n - (sum_cents * 1.0 / n) * (sum_cents * 1.0 / n) AS var_pop_cents2
FROM merged ORDER BY l_returnflag
""",
    tags=("D1", "D8"),
)
def d_partial_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level mergeable aggregation made explicit: shard-local
    partial states (count, sum, min, max, sum-of-squares) merged into
    finals by pure state algebra — the exact contract behind Spark's
    partial_/final HashAggregate split and any incremental pipeline
    that persists partial aggregates between runs. Population variance
    is DERIVED from merged exact states (ss/n − mean²), never
    recomputed from raw rows.

    Sum-of-squares overflows bigint at scale (1e14 per row × 6e5
    rows), so it accumulates in decimal(38,0) (Spark) / HUGEINT
    (DuckDB) — both exact — and only the final cast goes to double.
    var_pop_cents2 is identical-by-construction: same exact integers
    through the same expression, left unrounded.
    """
    l = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    t = l.select(
        (F.col("l_orderkey") % 2).alias("shard"),
        "l_returnflag",
        cents.alias("cents"),
    )
    partials = t.groupBy("shard", "l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s"),
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.sum(
            F.col("cents").cast("decimal(38,0)") * F.col("cents").cast("decimal(38,0)")
        ).alias("ss"),
    )
    merged = partials.groupBy("l_returnflag").agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("sum_cents"),
        F.min("lo").alias("min_cents"),
        F.max("hi").alias("max_cents"),
        F.sum("ss").cast("double").alias("sumsq"),
    )
    mean = F.col("sum_cents") * 1.0 / F.col("n")
    return merged.select(
        "l_returnflag",
        "n",
        "sum_cents",
        "min_cents",
        "max_cents",
        (F.col("sumsq") / F.col("n") - mean * mean).alias("var_pop_cents2"),
    ).orderBy("l_returnflag")


@register(
    "d_ttest_welch",
    oracle="""
WITH s AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
         CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS early
  FROM events WHERE event_type = 'purchase'
),
g AS (
  SELECT early,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(cents) AS BIGINT) AS s1,
    CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS ss
  FROM s GROUP BY early
),
stats AS (
  SELECT
    max(CASE WHEN early = 1 THEN n END)  AS n1,
    max(CASE WHEN early = 0 THEN n END)  AS n2,
    max(CASE WHEN early = 1 THEN s1 END) AS t1,
    max(CASE WHEN early = 0 THEN s1 END) AS t2,
    max(CASE WHEN early = 1 THEN ss END) AS ss1,
    max(CASE WHEN early = 0 THEN ss END) AS ss2
  FROM g
),
derived AS (
  SELECT n1, n2,
    t1 * 1.0 / n1 AS m1, t2 * 1.0 / n2 AS m2,
    (ss1 - (t1 * 1.0 / n1) * t1) / (n1 - 1) AS v1,
    (ss2 - (t2 * 1.0 / n2) * t2) / (n2 - 1) AS v2
  FROM stats
)
SELECT
  CAST(n1 AS BIGINT) AS n_early,
  CAST(n2 AS BIGINT) AS n_late,
  round(m1 - m2, 4) AS mean_diff_cents,
  round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 4) AS t_stat,
  round(
    (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
    / ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1)),
    2
  ) AS df_welch
FROM derived
""",
    tags=("D8", "D1"),
)
def d_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on purchase value, first half
    of month vs second — completes the drift-stats family (KS, PSI,
    Mann-Whitney, chi², two-proportion z) with the mean-shift test
    that does NOT assume equal variances (the pooled-variance t is the
    classic misuse when sample sizes differ).

    Everything reduces to the five exact sufficient statistics (n,
    Σx, Σx² per group — cents as integers, Σx² in HUGEINT/decimal),
    so both engines derive t and the Welch–Satterthwaite df from
    bit-identical inputs through the identical expression. One shuffle
    to a 2-row group table; the test itself is scalar algebra.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    s = e.select(
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0).alias("early"),
    )
    g = s.groupBy("early").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(
            F.col("cents").cast("decimal(38,0)") * F.col("cents").cast("decimal(38,0)")
        )
        .cast("double")
        .alias("ss"),
    )
    stats = g.agg(
        F.max(F.when(F.col("early") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("early") == 0, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("early") == 1, F.col("s1"))).alias("t1"),
        F.max(F.when(F.col("early") == 0, F.col("s1"))).alias("t2"),
        F.max(F.when(F.col("early") == 1, F.col("ss"))).alias("ss1"),
        F.max(F.when(F.col("early") == 0, F.col("ss"))).alias("ss2"),
    )
    m1 = F.col("t1") * 1.0 / F.col("n1")
    m2 = F.col("t2") * 1.0 / F.col("n2")
    v1 = (F.col("ss1") - m1 * F.col("t1")) / (F.col("n1") - 1)
    v2 = (F.col("ss2") - m2 * F.col("t2")) / (F.col("n2") - 1)
    se2_1 = v1 / F.col("n1")
    se2_2 = v2 / F.col("n2")
    return stats.select(
        F.col("n1").alias("n_early"),
        F.col("n2").alias("n_late"),
        F.round(m1 - m2, 4).alias("mean_diff_cents"),
        F.round((m1 - m2) / F.sqrt(se2_1 + se2_2), 4).alias("t_stat"),
        F.round(
            (se2_1 + se2_2) * (se2_1 + se2_2)
            / (
                se2_1 * se2_1 / (F.col("n1") - 1)
                + se2_2 * se2_2 / (F.col("n2") - 1)
            ),
            2,
        ).alias("df_welch"),
    )


@register(
    "d_bool_bit_aggs",
    oracle="""
SELECT l_returnflag,
  bool_and(l_quantity > 1)   AS all_multi,
  bool_or(l_discount > 0.09) AS any_deep_disc,
  CAST(bit_and(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS line_and,
  CAST(bit_or(CAST(l_linenumber AS BIGINT))  AS BIGINT) AS line_or,
  CAST(bit_xor(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS line_xor,
  CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag ORDER BY l_returnflag
""",
    tags=("D1", "H3"),
)
def d_bool_bit_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (every/some — SQL bool_and/bool_or) and
    bitwise aggregates (bit_and / bit_or / bit_xor) — the last
    uncovered corner of the batch aggregate surface. Booleans are
    short-circuit-safe predicates over the group; the bit folds are
    associative+commutative (order-free, hence partial-aggregable
    map-side like any algebraic agg). bit_xor doubles as a cheap
    order-insensitive set checksum in reconciliation jobs.

    Exactness: inputs are small integers (l_linenumber 1..7) and exact
    predicates — no floating point anywhere, bit-identical by
    construction.
    """
    l = load_table(spark, sf_dir, "lineitem")
    ln = F.col("l_linenumber").cast("long")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.every(F.col("l_quantity") > 1).alias("all_multi"),
            F.some(F.col("l_discount") > 0.09).alias("any_deep_disc"),
            F.bit_and(ln).alias("line_and"),
            F.bit_or(ln).alias("line_or"),
            F.bit_xor(ln).alias("line_xor"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "d_hhi_concentration",
    oracle="""
WITH rev AS (
  SELECT n.n_name AS nation, s.s_suppkey AS supp,
    CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name, s.s_suppkey
),
tot AS (
  SELECT nation, CAST(sum(cents) AS BIGINT) AS tot_cents,
         CAST(count(*) AS BIGINT) AS n_supps
  FROM rev GROUP BY nation
),
shares AS (
  -- double-floor, mirroring the engine: int64 `cents * 1000000`
  -- overflows at ~$92B per (nation,supplier); the three IEEE double
  -- ops are bit-identical cross-engine at any magnitude
  SELECT rev.nation,
    CAST(floor(CAST(cents AS DOUBLE) * 1000000.0 / CAST(tot_cents AS DOUBLE)) AS BIGINT) AS share_ppm
  FROM rev JOIN tot ON rev.nation = tot.nation
)
SELECT shares.nation,
  t.n_supps,
  CAST(sum(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_ppm,
  CAST(max(share_ppm) AS BIGINT) AS top_share_ppm
FROM shares JOIN tot t ON shares.nation = t.nation
GROUP BY shares.nation, t.n_supps
ORDER BY hhi_ppm DESC, shares.nation
""",
    tags=("D1", "C1"),
)
def d_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market-concentration index per nation:
    supplier revenue shares squared and summed — the antitrust /
    vendor-risk screen. Two-level aggregation reuses one shuffle
    (supplier grain groups by nation prefix); shares live in integer
    ppm with floor division so Σshare² is bit-exact on both engines
    (a double Σ of 400 squares would flap on summation order).
    """
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    rev = (
        l.join(maybe_broadcast(s.select("s_suppkey", "s_nationkey"), sf_dir, "supplier"), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("s_suppkey").alias("supp"))
        .agg(F.sum(cents).alias("cents"))
    )
    tot = rev.groupBy("nation").agg(
        F.sum("cents").alias("tot_cents"), F.count("*").alias("n_supps")
    )
    # share in ppm via double-floor, NOT `cents * 1000000 div tot_cents`:
    # the int64 product overflows once a (nation,supplier) exceeds
    # ~$92B revenue (cents > 2^63/1e6 — reachable at 100-TB scale; the
    # extremes fixture caught it). floor(double·1e6/double) is the same
    # three IEEE ops on both engines, so it stays bit-identical
    # cross-engine at any magnitude and overflow-free to 1e308.
    shares = rev.join(F.broadcast(tot), "nation").select(
        "nation",
        "n_supps",
        F.floor(
            F.col("cents").cast("double") * 1000000.0
            / F.col("tot_cents").cast("double")
        ).alias("share_ppm"),
    )
    return (
        shares.groupBy("nation", "n_supps")
        .agg(
            F.expr("sum(share_ppm * share_ppm) div 1000000").alias("hhi_ppm"),
            F.max("share_ppm").alias("top_share_ppm"),
        )
        .select("nation", "n_supps", "hhi_ppm", "top_share_ppm")
        .orderBy(F.desc("hhi_ppm"), "nation")
    )


@register(
    "d_abc_classification",
    oracle="""
WITH rev AS (
  SELECT l_partkey,
    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey
),
ranked AS (
  SELECT l_partkey, cents,
    sum(cents) OVER (ORDER BY cents DESC, l_partkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents,
    sum(cents) OVER () AS tot_cents
  FROM rev
),
classed AS (
  SELECT cents,
    CASE WHEN cum_cents * 10 <= tot_cents * 7 THEN 'A'
         WHEN cum_cents * 10 <= tot_cents * 9 THEN 'B'
         ELSE 'C' END AS abc
  FROM ranked
)
SELECT abc,
  CAST(count(*) AS BIGINT) AS n_parts,
  CAST(sum(cents) AS BIGINT) AS cents
FROM classed GROUP BY abc ORDER BY abc
""",
    tags=("E3", "D1", "F1"),
)
def d_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, classed
    A/B/C at 70% / 90% cumulative-share cutoffs — the multi-tier
    generalization of q_pareto_80's single cutoff. Share thresholds
    compare in integer ppm with floor division (cum·10⁶ // tot), so
    class boundaries can't flap on double rounding; the running sum
    orders by (cents DESC, partkey) — a total order, so the prefix
    sums are identical on both engines.

    Scale note: the single global running-sum window is the honest
    bottleneck (one-partition sort); at 100 TB the part-grain rollup
    (the data-sized stage) shrinks input to |parts| rows first, and
    the two-pass variant (compute tot_cents separately, range-
    partitioned sort) removes even that if |parts| outgrows a node.
    """
    l = load_table(spark, sf_dir, "lineitem")
    rev = l.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias("cents")
    )
    w_cum = (
        W.orderBy(F.desc("cents"), "l_partkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_tot = W.partitionBy()
    ranked = rev.select(
        "cents",
        F.sum("cents").over(w_cum).alias("cum_cents"),
        F.sum("cents").over(w_tot).alias("tot_cents"),
    )
    # cumulative-share thresholds as CROSS-MULTIPLICATIONS with small
    # constants (cum·10 ≤ tot·7), never cum·10⁶ — the ppm-scaled form
    # overflows bigint once cumulative cents pass ~9.2e12 (measured at
    # the 10× smoke); this form survives any SF
    a_bound = F.col("cum_cents") * 10 <= F.col("tot_cents") * 7
    b_bound = F.col("cum_cents") * 10 <= F.col("tot_cents") * 9
    classed = ranked.select(
        "cents",
        F.when(a_bound, "A").when(b_bound, "B").otherwise("C").alias("abc"),
    )
    return (
        classed.groupBy("abc")
        .agg(F.count("*").alias("n_parts"), F.sum("cents").alias("cents"))
        .orderBy("abc")
    )


@register(
    "d_gini_coefficient",
    oracle="""
WITH spend AS (
  SELECT c.c_nationkey AS nk,
    CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey, o.o_custkey
),
ranked AS (
  SELECT nk, cents,
    row_number() OVER (PARTITION BY nk ORDER BY cents, nk) AS rk
  FROM spend
),
per_nation AS (
  SELECT nk,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(cents) AS BIGINT) AS tot,
    CAST(sum(rk * cents) AS BIGINT) AS rank_mass
  FROM ranked GROUP BY nk
)
SELECT n.n_name AS nation, p.n AS n_customers,
  CAST((2 * p.rank_mass - (p.n + 1) * p.tot)
       // greatest(p.n * p.tot // 1000000, 1) AS BIGINT) AS gini_ppm
FROM per_nation p JOIN nation n ON p.nk = n.n_nationkey
ORDER BY gini_ppm DESC, nation
""",
    tags=("D1", "E1"),
)
def d_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend per nation — the
    rank-weighted inequality metric (G = (2·Σ rᵢxᵢ − (n+1)·Σxᵢ) /
    (n·Σxᵢ) over ascending-sorted values): complements
    d_hhi_concentration (share²) with the full-distribution view.
    The rank window orders by (cents, nationkey-local row identity)
    — ties in spend get distinct ranks, but Σ rᵢxᵢ is invariant
    under permutation WITHIN a tie group (equal x), so the metric is
    deterministic anyway; everything stays on bigint grids with one
    final ppm floor division.

    Scale: the customer-grain rollup reduces first; the rank window
    shuffles once per nation partition — never a global sort.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    spend = (
        o.join(maybe_broadcast(c.select("c_custkey", "c_nationkey"), sf_dir, "customer"), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"), "o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"))
    )
    rk = F.row_number().over(W.partitionBy("nk").orderBy("cents", "nk"))
    ranked = spend.select("nk", "cents", rk.alias("rk"))
    per_nation = ranked.groupBy("nk").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("tot"),
        F.sum(F.col("rk") * F.col("cents")).alias("rank_mass"),
    )
    return (
        per_nation.join(F.broadcast(n), per_nation.nk == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("n").alias("n_customers"),
            # divide by the DOWN-scaled denominator instead of up-scaling
            # the numerator ×10⁶ — numerator ≈ G·n·tot would overflow
            # bigint at larger SFs; identical integer algebra both sides
            F.expr(
                "(2 * rank_mass - (n + 1) * tot)"
                " div greatest(n * tot div 1000000, 1)"
            ).alias("gini_ppm"),
        )
        .orderBy(F.desc("gini_ppm"), "nation")
    )


@register(
    "d_outlier_tukey",
    oracle="""
WITH v AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents,
    row_number() OVER (PARTITION BY event_type ORDER BY round(value * 100, 0), event_id) AS rn,
    count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
q AS (
  SELECT event_type,
    max(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS q1,
    max(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END) AS q3,
    CAST(max(n) AS BIGINT) AS n
  FROM v GROUP BY event_type
),
fences AS (
  SELECT event_type, n, q1, q3,
    q1 - 3 * (q3 - q1) // 2 AS lo,
    q3 + 3 * (q3 - q1) // 2 AS hi
  FROM q
)
SELECT f.event_type, f.n, f.q1, f.q3, f.lo, f.hi,
  CAST(sum(CASE WHEN v.cents < f.lo OR v.cents > f.hi THEN 1 ELSE 0 END) AS BIGINT)
    AS n_outliers
FROM v JOIN fences f ON v.event_type = f.event_type
GROUP BY f.event_type, f.n, f.q1, f.q3, f.lo, f.hi
ORDER BY f.event_type
""",
    tags=("D5", "E1", "B3"),
)
def d_outlier_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier screen with EXACT discrete quartiles: q1/q3
    are the values at ranks ⌈n/4⌉ and ⌈3n/4⌉ of a (cents, event_id)
    total order — rank selection, not interpolation, because Spark's
    percentile() interpolates and DuckDB's quantile_disc rounds
    differently; rank-at-⌈p·n⌉ is the one discrete-quantile
    definition both engines reproduce bit-exactly. Fences at
    1.5×IQR in truncating integer arithmetic; one window pass for
    ranks, a broadcast-back of the 5-row fence table for the count.
    """
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    w = W.partitionBy("event_type").orderBy("cents", "event_id")
    w_n = W.partitionBy("event_type")
    v = e.select("event_type", "event_id", cents.alias("cents")).select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(w_n).alias("n"),
    )
    q = v.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 3) div 4"), F.col("cents"))).alias("q1"),
        F.max(F.when(F.col("rn") == F.expr("(3 * n + 3) div 4"), F.col("cents"))).alias("q3"),
        F.max("n").alias("n"),
    )
    fences = q.select(
        "event_type", "n", "q1", "q3",
        F.expr("q1 - 3 * (q3 - q1) div 2").alias("lo"),
        F.expr("q3 + 3 * (q3 - q1) div 2").alias("hi"),
    )
    joined = v.select("event_type", "cents").join(
        F.broadcast(fences.withColumnRenamed("event_type", "ft")),
        F.col("event_type") == F.col("ft"),
    )
    return (
        joined.groupBy("event_type", "n", "q1", "q3", "lo", "hi")
        .agg(
            F.sum(
                F.when((F.col("cents") < F.col("lo")) | (F.col("cents") > F.col("hi")), 1)
                .otherwise(0)
            ).alias("n_outliers")
        )
        .orderBy("event_type")
    )


@register(
    "d_kendall_tau",
    oracle="""
WITH m AS (
  SELECT n.n_name AS nation,
    CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents,
    CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_cust
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
),
pairs AS (
  SELECT
    CASE WHEN (a.rev_cents - b.rev_cents) * (a.n_cust - b.n_cust) > 0 THEN 1 ELSE 0 END AS conc,
    CASE WHEN (a.rev_cents - b.rev_cents) * (a.n_cust - b.n_cust) < 0 THEN 1 ELSE 0 END AS disc
  FROM m a JOIN m b ON a.nation < b.nation
)
SELECT
  CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(sum(conc) AS BIGINT) AS concordant,
  CAST(sum(disc) AS BIGINT) AS discordant,
  CAST((sum(conc) - sum(disc)) * 1000000 // count(*) AS BIGINT) AS tau_a_ppm
FROM pairs
""",
    tags=("D8", "C7"),
)
def d_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kendall τ-a between two nation-level metrics (total
    revenue vs distinct customers): the non-parametric rank
    agreement that, unlike Pearson, needs no distributional
    assumption and no floating point — concordance is the SIGN of a
    cross-product of integer differences. The all-pairs comparison
    is explicitly bounded by the entity set (25 nations → 300
    pairs), the general pattern for rank-correlating any rolled-up
    leaderboard; the data-sized stage is the nation rollup.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    m = (
        o.join(maybe_broadcast(c.select("c_custkey", "c_nationkey"), sf_dir, "customer"), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("rev_cents"),
            F.countDistinct("o_custkey").alias("n_cust"),
        )
    )
    a = m.alias("a")
    b = m.alias("b")
    sign = (F.col("a.rev_cents") - F.col("b.rev_cents")) * (
        F.col("a.n_cust") - F.col("b.n_cust")
    )
    pairs = a.join(b, F.col("a.nation") < F.col("b.nation")).select(
        F.when(sign > 0, 1).otherwise(0).alias("conc"),
        F.when(sign < 0, 1).otherwise(0).alias("disc"),
    )
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.sum("conc").alias("concordant"),
        F.sum("disc").alias("discordant"),
        F.expr("(sum(conc) - sum(disc)) * 1000000 div count(*)").alias("tau_a_ppm"),
    )


@register(
    "d_cramers_v",
    oracle="""
WITH cells AS (
  SELECT l_returnflag AS r, l_linestatus AS c, CAST(count(*) AS BIGINT) AS o
  FROM lineitem GROUP BY l_returnflag, l_linestatus
),
margins AS (
  SELECT r, c, o,
    CAST(sum(o) OVER (PARTITION BY r) AS BIGINT) AS row_n,
    CAST(sum(o) OVER (PARTITION BY c) AS BIGINT) AS col_n,
    CAST(sum(o) OVER () AS BIGINT) AS n
  FROM cells
),
chi AS (
  SELECT max(n) AS n,
    CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
    CAST(count(DISTINCT c) AS BIGINT) AS n_cols,
    sum( (CAST(o AS DOUBLE) - CAST(row_n AS DOUBLE) * col_n / n)
       * (CAST(o AS DOUBLE) - CAST(row_n AS DOUBLE) * col_n / n)
       / (CAST(row_n AS DOUBLE) * col_n / n) ) AS chi2
  FROM margins
)
SELECT CAST(n AS BIGINT) AS n, n_rows, n_cols,
  round(chi2, 6) AS chi2,
  round(sqrt(chi2 / (CAST(n AS DOUBLE) * (least(n_rows, n_cols) - 1))), 6) AS cramers_v
FROM chi
""",
    tags=("D8", "D1"),
)
def d_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the returnflag × linestatus
    association: the normalized χ² that makes contingency strength
    comparable across table shapes (0 = independent, 1 = fully
    determined). Counts and margins are exact bigints via windows
    over the tiny cell table (the d_chi2_independence shape); the
    closed-form χ²/V evaluate in an identical floating-point
    operation sequence on both engines, then one shared round —
    floating point touches only the final expression, never
    accumulation.
    """
    l = load_table(spark, sf_dir, "lineitem")
    cells = l.groupBy(
        F.col("l_returnflag").alias("r"), F.col("l_linestatus").alias("c")
    ).agg(F.count("*").alias("o"))

    margins = cells.select(
        "r",
        "c",
        "o",
        F.sum("o").over(W.partitionBy("r")).alias("row_n"),
        F.sum("o").over(W.partitionBy("c")).alias("col_n"),
        F.sum("o").over(W.partitionBy()).alias("n"),
    )
    exp = F.try_divide(
        F.col("row_n").cast("double") * F.col("col_n"), F.col("n")
    )
    chi = margins.agg(
        F.max("n").alias("n"),
        F.countDistinct("r").alias("n_rows"),
        F.countDistinct("c").alias("n_cols"),
        F.sum(
            F.try_divide(
                (F.col("o").cast("double") - exp)
                * (F.col("o").cast("double") - exp),
                exp,
            )
        ).alias("chi2"),
    )
    return chi.select(
        F.col("n").cast("long").alias("n"),
        "n_rows",
        "n_cols",
        F.round("chi2", 6).alias("chi2"),
        # a 1×k or k×1 table has min(r,c)-1 = 0 → V undefined → NULL
        # (try_divide), matching DuckDB's NULL-on-zero division
        F.round(
            F.sqrt(
                F.try_divide(
                    F.col("chi2"),
                    F.col("n").cast("double")
                    * (F.least("n_rows", "n_cols") - F.lit(1)),
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "d_pmi_cells",
    oracle="""
WITH cells AS (
  SELECT l_returnflag AS rf, l_linestatus AS ls, CAST(count(*) AS BIGINT) AS o
  FROM lineitem GROUP BY rf, ls
),
m AS (
  SELECT rf, ls, o,
    CAST(sum(o) OVER (PARTITION BY rf) AS BIGINT) AS n_rf,
    CAST(sum(o) OVER (PARTITION BY ls) AS BIGINT) AS n_ls,
    CAST(sum(o) OVER () AS BIGINT) AS n
  FROM cells
)
SELECT rf, ls, o,
  round(ln((CAST(o AS DOUBLE) * n) / (CAST(n_rf AS DOUBLE) * n_ls)), 6) AS pmi
FROM m ORDER BY rf, ls
""",
    tags=("D8", "D1"),
)
def d_pmi_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information per (returnflag, linestatus)
    cell: ln(p(x,y)/(p(x)p(y))) — which combinations co-occur more
    than independence predicts. Reported PER CELL rather than summed
    into one MI number deliberately: a cross-cell double sum is
    summation-order-dependent between engines, while each cell's
    PMI is one ln() of an exactly-agreed rational (integer counts on
    both sides of the division), rounded once. The margins come from
    windows over the tiny cell table.
    """
    l = load_table(spark, sf_dir, "lineitem")
    cells = l.groupBy(
        F.col("l_returnflag").alias("rf"), F.col("l_linestatus").alias("ls")
    ).agg(F.count("*").alias("o"))
    m = cells.select(
        "rf",
        "ls",
        "o",
        F.sum("o").over(W.partitionBy("rf")).alias("n_rf"),
        F.sum("o").over(W.partitionBy("ls")).alias("n_ls"),
        F.sum("o").over(W.partitionBy()).alias("n"),
    )
    return m.select(
        "rf",
        "ls",
        "o",
        F.round(
            F.log(
                (F.col("o").cast("double") * F.col("n"))
                / (F.col("n_rf").cast("double") * F.col("n_ls"))
            ),
            6,
        ).alias("pmi"),
    ).orderBy("rf", "ls")


@register(
    "d_moments_exact",
    oracle="""
WITH v AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS x
  FROM events WHERE event_type IN ('purchase', 'click')
),
s AS (
  SELECT event_type,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x) AS BIGINT) AS s1,
    CAST(sum(CAST(x AS HUGEINT) * x) AS VARCHAR) AS s2_str,
    CAST(sum(CAST(x AS HUGEINT) * x * x) AS VARCHAR) AS s3_str,
    CAST(sum(CAST(x AS HUGEINT) * x * x * x) AS VARCHAR) AS s4_str
  FROM v GROUP BY event_type
),
m AS (
  SELECT event_type, n, s1,
    CAST(s2_str AS DOUBLE) AS s2, CAST(s3_str AS DOUBLE) AS s3,
    CAST(s4_str AS DOUBLE) AS s4,
    CAST(s1 AS DOUBLE) / n AS mu
  FROM s
),
c AS (
  SELECT event_type, n,
    s2 / n - mu * mu AS m2,
    s3 / n - 3 * mu * (s2 / n) + 2 * mu * mu * mu AS m3,
    s4 / n - 4 * mu * (s3 / n) + 6 * mu * mu * (s2 / n) - 3 * mu * mu * mu * mu AS m4
  FROM m
)
SELECT event_type, n,
  round(m3 / pow(m2, 1.5), 6) AS skewness,
  round(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis
FROM c ORDER BY event_type
""",
    tags=("D8", "D1"),
)
def d_moments_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis from EXACT power sums: Σx² Σx³ Σx⁴
    accumulate in decimal(38)/HUGEINT (x³ terms alone pass bigint
    range), then the central-moment closed forms evaluate once in
    doubles with an identical operation sequence — the engines'
    BUILT-IN skewness()/kurtosis() disagree across systems on bias
    correction (population vs sample, Fisher vs Pearson), which is
    exactly why a cross-engine pipeline pins the sufficient-statistic
    formulation instead. Population (biased) moments, one shared
    round. The wide sums cross the comparator as strings (the hash
    layer has no int128 type); the doubles derive from them
    identically.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    v = e.select(
        "event_type", F.round(F.col("value") * 100, 0).cast("long").alias("x")
    )
    s = v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.expr("cast(x as decimal(38,0)) * x")).cast("string").alias("s2_str"),
        F.sum(F.expr("cast(x as decimal(38,0)) * x * x")).cast("string").alias("s3_str"),
        F.sum(F.expr("cast(x as decimal(38,0)) * x * x * x")).cast("string").alias("s4_str"),
    )
    m = s.select(
        "event_type",
        "n",
        "s1",
        F.col("s2_str").cast("double").alias("s2"),
        F.col("s3_str").cast("double").alias("s3"),
        F.col("s4_str").cast("double").alias("s4"),
        (F.col("s1").cast("double") / F.col("n")).alias("mu"),
    )
    c = m.select(
        "event_type",
        "n",
        (F.col("s2") / F.col("n") - F.col("mu") * F.col("mu")).alias("m2"),
        (
            F.col("s3") / F.col("n")
            - 3 * F.col("mu") * (F.col("s2") / F.col("n"))
            + 2 * F.col("mu") * F.col("mu") * F.col("mu")
        ).alias("m3"),
        (
            F.col("s4") / F.col("n")
            - 4 * F.col("mu") * (F.col("s3") / F.col("n"))
            + 6 * F.col("mu") * F.col("mu") * (F.col("s2") / F.col("n"))
            - 3 * F.col("mu") * F.col("mu") * F.col("mu") * F.col("mu")
        ).alias("m4"),
    )
    return c.select(
        "event_type",
        "n",
        # zero variance → moments undefined → NULL (DuckDB x/0), not
        # an ANSI abort
        F.round(
            F.try_divide(F.col("m3"), F.pow(F.col("m2"), F.lit(1.5))), 6
        ).alias("skewness"),
        F.round(
            F.try_divide(F.col("m4"), F.col("m2") * F.col("m2")) - 3, 6
        ).alias("excess_kurtosis"),
    ).orderBy("event_type")


@register(
    "d_quantile_shift",
    oracle="""
WITH v AS (
  SELECT year(l_shipdate) AS y, CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
    l_orderkey, l_linenumber
  FROM lineitem WHERE year(l_shipdate) IN (1997, 1998)
),
ranked AS (
  SELECT y, cents,
    row_number() OVER (PARTITION BY y ORDER BY cents, l_orderkey, l_linenumber) AS rn,
    count(*) OVER (PARTITION BY y) AS n
  FROM v
),
qs AS (
  SELECT d.d AS decile, r.y, max(r.cents) AS q
  FROM ranked r JOIN (SELECT unnest(generate_series(1, 9)) AS d) d
    ON r.rn = (d.d * r.n + 9) // 10
  GROUP BY d.d, r.y
)
SELECT CAST(decile AS BIGINT) AS decile,
  CAST(max(CASE WHEN y = 1997 THEN q END) AS BIGINT) AS q97_cents,
  CAST(max(CASE WHEN y = 1998 THEN q END) AS BIGINT) AS q98_cents,
  CAST(max(CASE WHEN y = 1998 THEN q END)
     - max(CASE WHEN y = 1997 THEN q END) AS BIGINT) AS shift_cents
FROM qs GROUP BY decile ORDER BY decile
""",
    tags=("D5", "D8", "E1"),
)
def d_quantile_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-shift table: the nine deciles of line revenue in 1997
    vs 1998 and their shifts — WHERE the distribution moved, which
    the single-number d_ks_drift can't say (a KS rejection with all
    the shift in the tail means something different from a uniform
    drift). Deciles are rank-exact at ⌈d·n/10⌉ per year
    ((cents, orderkey, linenumber) total order); the decile grid
    joins as an equi-condition on the rank — no per-quantile rescan.
    """
    l = load_table(spark, sf_dir, "lineitem")
    y = F.year("l_shipdate")
    v = l.filter(y.isin(1997, 1998)).select(
        y.alias("y"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    w = W.partitionBy("y").orderBy("cents", "l_orderkey", "l_linenumber")
    ranked = v.select(
        "y",
        "cents",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count("*").over(W.partitionBy("y")).alias("n"),
    )
    grid = spark.range(1, 10).select(F.col("id").cast("long").alias("d"))
    qs = (
        ranked.join(F.broadcast(grid), F.expr("rn = (d * n + 9) div 10"))
        .groupBy(F.col("d").alias("decile"), "y")
        .agg(F.max("cents").alias("q"))
    )
    return (
        qs.groupBy("decile")
        .agg(
            F.max(F.when(F.col("y") == 1997, F.col("q"))).alias("q97_cents"),
            F.max(F.when(F.col("y") == 1998, F.col("q"))).alias("q98_cents"),
            (
                F.max(F.when(F.col("y") == 1998, F.col("q")))
                - F.max(F.when(F.col("y") == 1997, F.col("q")))
            ).alias("shift_cents"),
        )
        .orderBy("decile")
    )


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
    w12 = W.orderBy("m").rowsBetween(-5, 6)
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
    "d_capture_recapture",
    oracle="""
WITH marks AS (
  SELECT o_custkey,
    ascii(substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1)) % 4 = 0 AS in_a,
    ascii(substr(md5(CAST(o_custkey AS VARCHAR)), 2, 1)) % 4 = 0 AS in_b
  FROM (SELECT DISTINCT o_custkey FROM orders)
)
SELECT
  CAST(count(*) AS BIGINT) AS true_n,
  CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
  CAST(sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
  CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
  CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END)
     * sum(CASE WHEN in_b THEN 1 ELSE 0 END)
     // greatest(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END), 1) AS BIGINT)
    AS lincoln_petersen_est,
  abs(sum(CASE WHEN in_a THEN 1 ELSE 0 END)
     * sum(CASE WHEN in_b THEN 1 ELSE 0 END)
     // greatest(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END), 1)
     - count(*)) * 10 <= count(*) * 3 AS within_30pct
FROM marks
""",
    tags=("D3", "D8", "H4"),
)
def d_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture (Lincoln-Petersen) population estimation:
    two independent ~25% hash samples of active customers 'mark' and
    'recapture'; N̂ = n_a·n_b / n_both estimates the total active
    population from the overlap — the technique for sizing a
    population you can only sample (dark-web dedup, census coverage,
    bot-account estimation). Samples come from independent md5 hex
    digits (seedless, engine-shared); the estimate is integer floor
    division, and the in-plan ±30% sanity bound is a
    cross-multiplied integer test that MEASURES estimator quality
    against the known truth.
    """
    o = load_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    h = F.md5(F.col("o_custkey").cast("string"))
    marks = o.select(
        (F.ascii(F.substring(h, 1, 1)) % 4 == 0).alias("in_a"),
        (F.ascii(F.substring(h, 2, 1)) % 4 == 0).alias("in_b"),
    )
    est = F.expr(
        "sum(CASE WHEN in_a THEN 1 ELSE 0 END)"
        " * sum(CASE WHEN in_b THEN 1 ELSE 0 END)"
        " div greatest(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END), 1)"
    )
    return marks.agg(
        F.count("*").alias("true_n"),
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("in_b"), 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("in_a") & F.col("in_b"), 1).otherwise(0)).alias("n_both"),
        est.alias("lincoln_petersen_est"),
        (F.abs(est - F.count("*")) * 10 <= F.count("*") * 3).alias("within_30pct"),
    )


@register(
    "d_source_vocab_overlap",
    oracle="""
WITH toks AS (
  SELECT DISTINCT source, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents WHERE length(text) > 0
),
clean AS (SELECT source, tok FROM toks WHERE tok <> ''),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS sz FROM clean GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS inter
  FROM clean a JOIN clean b ON a.tok = b.tok AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT i.src_a, i.src_b, i.inter,
  CAST(i.inter * 1000000 // (sa.sz + sb.sz - i.inter) AS BIGINT) AS jaccard_ppm
FROM inter i
JOIN sizes sa ON i.src_a = sa.source
JOIN sizes sb ON i.src_b = sb.source
ORDER BY jaccard_ppm DESC, src_a, src_b LIMIT 15
""",
    tags=("J2", "D1", "C1"),
)
def d_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level vocabulary overlap: Jaccard similarity of the
    token-type sets of every source pair — the corpus-composition
    matrix that flags near-duplicate sources (two crawls of one
    site) before doc-level dedup ever runs. The pair join runs over
    the (source, type) rollup — bounded by |vocab|·|sources|, never
    by documents — and exact Jaccard uses inclusion-exclusion on
    integer set sizes.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    clean = (
        d.select("source", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    sizes = clean.groupBy("source").agg(F.count("*").alias("sz"))
    a = clean.alias("a")
    b = clean.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("sza"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("szb"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "inter",
            F.expr("inter * 1000000 div (sza + szb - inter)").alias("jaccard_ppm"),
        )
        .orderBy(F.desc("jaccard_ppm"), "src_a", "src_b")
        .limit(15)
    )


@register(
    "d_sigma_bands",
    oracle="""
WITH v AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS x
  FROM events WHERE event_type IN ('purchase', 'click')
),
s AS (
  SELECT event_type,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x) AS BIGINT) AS s1,
    CAST(sum(x * x) AS BIGINT) AS s2
  FROM v GROUP BY event_type
),
banded AS (
  SELECT v.event_type,
    CASE WHEN CAST(v.x * s.n - s.s1 AS DECIMAL(38, 0)) * (v.x * s.n - s.s1)
              <= CAST(1 AS DECIMAL(38, 0)) * (CAST(s.n AS DECIMAL(38, 0)) * s.s2 - CAST(s.s1 AS DECIMAL(38, 0)) * s.s1)
         THEN 1 ELSE 0 END AS in_1s,
    CASE WHEN CAST(v.x * s.n - s.s1 AS DECIMAL(38, 0)) * (v.x * s.n - s.s1)
              <= CAST(4 AS DECIMAL(38, 0)) * (CAST(s.n AS DECIMAL(38, 0)) * s.s2 - CAST(s.s1 AS DECIMAL(38, 0)) * s.s1)
         THEN 1 ELSE 0 END AS in_2s,
    CASE WHEN CAST(v.x * s.n - s.s1 AS DECIMAL(38, 0)) * (v.x * s.n - s.s1)
              <= CAST(9 AS DECIMAL(38, 0)) * (CAST(s.n AS DECIMAL(38, 0)) * s.s2 - CAST(s.s1 AS DECIMAL(38, 0)) * s.s1)
         THEN 1 ELSE 0 END AS in_3s
  FROM v JOIN s ON v.event_type = s.event_type
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(in_1s) * 1000000 // count(*) AS BIGINT) AS within_1s_ppm,
  CAST(sum(in_2s) * 1000000 // count(*) AS BIGINT) AS within_2s_ppm,
  CAST(sum(in_3s) * 1000000 // count(*) AS BIGINT) AS within_3s_ppm
FROM banded GROUP BY event_type ORDER BY event_type
""",
    tags=("D8", "B3"),
)
def d_sigma_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-rule profile: the share of values within 1σ/2σ/3σ of
    their group mean — the quickest normality sanity check (a
    Gaussian shows ≈68/95/99.7%; uniform data ≈58/100/100; this
    fixture's right-skewed purchase values show ≈81/95/99%). Band
    membership is the pure-integer cross-multiplication
    (x·n − S1)² ≤ k²·(n·S2 − S1²) — exactly |x−μ| ≤ k·σ with
    population σ² = (n·S2 − S1²)/n² — so no σ is ever materialized
    as a double and band edges can't flap; group sufficient
    statistics broadcast back onto the values.

    The squared/spread terms pass bigint range even at gate scale,
    so both sides evaluate them in DECIMAL(38,0)/HUGEINT — the
    q_returns_p_chart wide-integer precedent.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    v = e.select(
        "event_type", F.round(F.col("value") * 100, 0).cast("long").alias("x")
    )
    s = v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.expr("x * x")).alias("s2"),
    )
    joined = v.join(F.broadcast(s), "event_type")
    dev2 = F.expr(
        "cast(x * n - s1 as decimal(38,0)) * (x * n - s1)"
    )
    # spread = n*S2 - S1^2 = n^2 * sigma^2 (population): the band test
    # (x*n - S1)^2 <= k^2 * (n*S2 - S1^2) is |x - mu| <= k*sigma exactly.
    # Round 5 fix: an extra *n factor here made the bands sqrt(n) too
    # wide, so every row tested "within 1 sigma" (1e6 ppm reported where
    # the true uniform-fixture share is ~58%) — a shared engine+oracle
    # bug caught by the independent-derivation sweep
    # (tests/test_indep_misc_r5.py).
    spread = F.expr(
        "cast(n as decimal(38,0)) * s2 - cast(s1 as decimal(38,0)) * s1"
    )
    banded = joined.select(
        "event_type",
        F.when(dev2 <= F.lit(1).cast("decimal(38,0)") * spread, 1).otherwise(0).alias("in_1s"),
        F.when(dev2 <= F.lit(4).cast("decimal(38,0)") * spread, 1).otherwise(0).alias("in_2s"),
        F.when(dev2 <= F.lit(9).cast("decimal(38,0)") * spread, 1).otherwise(0).alias("in_3s"),
    )
    return (
        banded.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.expr("sum(in_1s) * 1000000 div count(*)").alias("within_1s_ppm"),
            F.expr("sum(in_2s) * 1000000 div count(*)").alias("within_2s_ppm"),
            F.expr("sum(in_3s) * 1000000 div count(*)").alias("within_3s_ppm"),
        )
        .orderBy("event_type")
    )


@register(
    "d_durbin_watson",
    oracle="""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY event_type, h
),
idx AS (
  SELECT event_type, y,
    CAST(row_number() OVER (PARTITION BY event_type ORDER BY h) AS BIGINT) AS x
  FROM hourly
),
stats AS (
  SELECT event_type,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
  FROM idx GROUP BY event_type
),
resid AS (
  -- residual numerator over common denominator n*D (which cancels in
  -- DW): R = y*n*D - sy*D + S*sx - S*n*x, S = n*sxy - sx*sy,
  -- D = n*sxx - sx*sx — all integer, scaled down 10^6 identically
  SELECT i.event_type, i.x,
    (CAST(i.y AS DECIMAL(38, 0)) * s.n * (s.n * s.sxx - s.sx * s.sx)
     - CAST(s.sy AS DECIMAL(38, 0)) * (s.n * s.sxx - s.sx * s.sx)
     + CAST(s.n * s.sxy - s.sx * s.sy AS DECIMAL(38, 0)) * s.sx
     - CAST(s.n * s.sxy - s.sx * s.sy AS DECIMAL(38, 0)) * s.n * i.x
    ) AS r_raw
  FROM idx i JOIN stats s ON i.event_type = s.event_type
),
scaled AS (
  SELECT event_type, x, CAST(trunc(r_raw / 1000000) AS DECIMAL(38, 0)) AS r
  FROM resid
),
lagged AS (
  SELECT event_type, r,
    lag(r) OVER (PARTITION BY event_type ORDER BY x) AS prev
  FROM scaled
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n,
  CAST(trunc(
    sum(CASE WHEN prev IS NOT NULL THEN (r - prev) * (r - prev) ELSE 0 END)
    * 1000000 / greatest(sum(r * r), 1)) AS BIGINT) AS dw_micro
FROM lagged GROUP BY event_type ORDER BY event_type
""",
    tags=("D8", "E2"),
)
def d_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic on the hourly-trend OLS residuals:
    DW = Σ(eₜ−eₜ₋₁)²/Σeₜ² ≈ 2 when residuals are independent, → 0
    under positive autocorrelation — the diagnostic that says whether
    the k_grouped_map_ols trend line left structure on the table.
    Discipline: the residual numerator lives over the common
    denominator n·D, which CANCELS in the DW ratio — so the whole
    statistic evaluates in integer/decimal arithmetic with zero
    doubles anywhere (a double closed form diverged by one ulp on
    one row between engines, measured; integers cannot). Reported
    in micro units via floor division.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = hourly_cents(e, "y")
    w_rn = W.partitionBy("event_type").orderBy("h")
    idx = hourly.select(
        "event_type", "y", F.row_number().over(w_rn).cast("long").alias("x")
    )
    stats = idx.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("x * y")).alias("sxy"),
    )
    # residual numerator over the common denominator n*D (cancels in
    # the DW ratio): all integer/decimal — zero doubles anywhere, so
    # no ulp can flip a quantization boundary (a double closed form
    # diverged by one ulp on one row between engines, measured)
    r_expr = (
        "(cast(y as decimal(38,0)) * n * (n * sxx - sx * sx)"
        " - cast(sy as decimal(38,0)) * (n * sxx - sx * sx)"
        " + cast(n * sxy - sx * sy as decimal(38,0)) * sx"
        " - cast(n * sxy - sx * sy as decimal(38,0)) * n * x"
        ") div 1000000"
    )
    resid = idx.join(F.broadcast(stats), "event_type").select(
        "event_type", "x", F.expr(r_expr).alias("r")
    )
    w = W.partitionBy("event_type").orderBy("x")
    lagged = resid.select("event_type", "r", F.lag("r").over(w).alias("prev"))
    num_dec = (
        "sum(CASE WHEN prev IS NOT NULL"
        " THEN cast(r - prev as decimal(38,0)) * (r - prev) ELSE 0 END)"
    )
    den_dec = "sum(cast(r as decimal(38,0)) * r)"
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.expr(
                f"cast({num_dec} * 1000000 div greatest({den_dec}, cast(1 as decimal(38,0))) as bigint)"
            ).alias("dw_micro"),
        )
        .orderBy("event_type")
    )


@register(
    "d_runs_test",
    oracle="""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY event_type, h
),
med AS (
  SELECT event_type, y, h,
    row_number() OVER (PARTITION BY event_type ORDER BY y, h) AS rn,
    count(*) OVER (PARTITION BY event_type) AS n
  FROM hourly
),
median_val AS (
  SELECT event_type, max(CASE WHEN rn = (n + 1) // 2 THEN y END) AS m
  FROM med GROUP BY event_type
),
signs AS (
  SELECT h.event_type, h.h,
    CASE WHEN h.y > mv.m THEN 1 ELSE 0 END AS s
  FROM hourly h JOIN median_val mv ON h.event_type = mv.event_type
  WHERE h.y <> mv.m
),
flips AS (
  SELECT event_type, s,
    lag(s) OVER (PARTITION BY event_type ORDER BY h) AS prev
  FROM signs
),
stats AS (
  SELECT event_type,
    CAST(1 + sum(CASE WHEN prev IS NOT NULL AND s <> prev THEN 1 ELSE 0 END)
         AS BIGINT) AS r,
    CAST(sum(s) AS BIGINT) AS a,
    CAST(count(*) - sum(s) AS BIGINT) AS b,
    CAST(count(*) AS BIGINT) AS n
  FROM flips GROUP BY event_type
)
SELECT event_type, r AS n_runs, a AS n_above, b AS n_below,
  -- |R·n − (2ab + n)|²·(n−1) ≤ 9·2ab·(2ab − n) ⟺ |z| ≤ 3, integers only
  CASE WHEN (r * n - (2 * a * b + n)) * (r * n - (2 * a * b + n)) * (n - 1)
            <= 9 * 2 * a * b * (2 * a * b - n)
       THEN 'random' ELSE 'patterned' END AS verdict
FROM stats ORDER BY event_type
""",
    tags=("D8", "E2"),
)
def d_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the hourly revenue sign sequence
    (above/below the rank-exact median; ties dropped): too FEW runs
    means trending/clustered data, too many means oscillation —
    the nonparametric randomness check behind residual diagnostics.
    The ±3σ acceptance band cross-multiplies into the pure-integer
    inequality (R·n − (2ab+n))²·(n−1) ≤ 18ab(2ab−n) — the σ's sqrt
    never materializes, so the verdict is bit-exact. All windows run
    at hourly grain.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = hourly_cents(e, "y")
    w_rank = W.partitionBy("event_type").orderBy("y", "h")
    w_n = W.partitionBy("event_type")
    med = hourly.select(
        "event_type",
        "y",
        "h",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_n).alias("n"),
    )
    median_val = med.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("y"))).alias("m")
    )
    signs = (
        hourly.join(F.broadcast(median_val), "event_type")
        .filter(F.col("y") != F.col("m"))
        .select("event_type", "h", F.when(F.col("y") > F.col("m"), 1).otherwise(0).alias("s"))
    )
    w_ord = W.partitionBy("event_type").orderBy("h")
    flips = signs.select(
        "event_type", "s", F.lag("s").over(w_ord).alias("prev")
    )
    stats = flips.groupBy("event_type").agg(
        (
            F.lit(1)
            + F.sum(
                F.when(F.col("prev").isNotNull() & (F.col("s") != F.col("prev")), 1)
                .otherwise(0)
            )
        ).cast("long").alias("r"),
        F.sum("s").alias("a"),
        (F.count("*") - F.sum("s")).alias("b"),
        F.count("*").alias("n"),
    )
    lhs = F.expr("(r * n - (2 * a * b + n)) * (r * n - (2 * a * b + n)) * (n - 1)")
    rhs = F.expr("9 * 2 * a * b * (2 * a * b - n)")
    return stats.select(
        "event_type",
        F.col("r").alias("n_runs"),
        F.col("a").alias("n_above"),
        F.col("b").alias("n_below"),
        F.when(lhs <= rhs, "random").otherwise("patterned").alias("verdict"),
    ).orderBy("event_type")


@register(
    "d_hash_collision_census",
    oracle="""
WITH pfx AS (
  SELECT substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) AS p
  FROM (SELECT DISTINCT o_orderkey FROM orders)
),
buckets AS (
  SELECT p, CAST(count(*) AS BIGINT) AS k FROM pfx GROUP BY p
)
SELECT
  CAST(sum(k) AS BIGINT) AS n_keys,
  CAST(count(*) AS BIGINT) AS n_distinct_prefixes,
  CAST(sum(CASE WHEN k > 1 THEN k ELSE 0 END) AS BIGINT) AS n_colliding_keys,
  CAST(max(k) AS BIGINT) AS max_bucket
FROM buckets
""",
    tags=("H4", "D2"),
)
def d_hash_collision_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-space collision census: order keys mapped through a
    16-bit hash prefix (4 md5 hex chars → 65 536 slots) and the
    collision load measured exactly — the capacity check before
    committing to a short-hash partition key or cache shard (the
    birthday bound says ~n²/2m collisions; the census MEASURES the
    fixture's actual figure, bit-identical on both engines because
    md5 is shared). max_bucket is the hot-slot answer.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey").distinct()
    pfx = o.select(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4).alias("p")
    )
    buckets = pfx.groupBy("p").agg(F.count("*").alias("k"))
    return buckets.agg(
        F.sum("k").alias("n_keys"),
        F.count("*").alias("n_distinct_prefixes"),
        F.sum(F.when(F.col("k") > 1, F.col("k")).otherwise(0)).alias("n_colliding_keys"),
        F.max("k").alias("max_bucket"),
    )


@register(
    "d_ttest_paired",
    oracle="""
WITH yr AS (
  SELECT p.p_brand AS brand, year(l.l_shipdate) AS y,
    CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE year(l.l_shipdate) IN (1997, 1998)
  GROUP BY brand, y
),
pairs AS (
  SELECT brand,
    max(CASE WHEN y = 1998 THEN cents END) - max(CASE WHEN y = 1997 THEN cents END) AS d
  FROM yr GROUP BY brand
  HAVING max(CASE WHEN y = 1997 THEN cents END) IS NOT NULL
     AND max(CASE WHEN y = 1998 THEN cents END) IS NOT NULL
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(d) AS BIGINT) AS s1,
    CAST(sum(d * d) AS BIGINT) AS s2
  FROM pairs
)
SELECT n, s1 AS sum_delta_cents,
  round((CAST(s1 AS DOUBLE) / n)
    / sqrt((CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
           / (n - 1)), 6) AS t_stat
FROM s
""",
    tags=("D8",),
)
def d_ttest_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired t-test on per-brand 1997→1998 revenue deltas: the
    matched-pairs design that removes between-brand variance from
    the year effect (an unpaired test — d_ttest_welch's shape —
    would drown the signal in brand size differences). Deltas are
    exact integer cents; sufficient statistics accumulate as bigints
    and the closed form evaluates once in an identical double
    sequence, one shared round (the d_ttest_welch discipline).
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    y = F.year("l_shipdate")
    yr = (
        l.filter(y.isin(1997, 1998))
        .join(maybe_broadcast(p.select("p_partkey", "p_brand"), sf_dir, "part"), l.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), y.alias("y"))
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias("cents"))
    )
    pairs = (
        yr.groupBy("brand")
        .agg(
            F.max(F.when(F.col("y") == 1997, F.col("cents"))).alias("c97"),
            F.max(F.when(F.col("y") == 1998, F.col("cents"))).alias("c98"),
        )
        .filter(F.col("c97").isNotNull() & F.col("c98").isNotNull())
        .select((F.col("c98") - F.col("c97")).alias("d"))
    )
    s = pairs.agg(
        F.count("*").alias("n"),
        F.sum("d").alias("s1"),
        F.sum(F.expr("d * d")).alias("s2"),
    )
    return s.select(
        "n",
        F.col("s1").alias("sum_delta_cents"),
        F.round(
            (F.col("s1").cast("double") / F.col("n"))
            / F.sqrt(
                (
                    F.col("s2").cast("double") / F.col("n")
                    - (F.col("s1").cast("double") / F.col("n"))
                    * (F.col("s1").cast("double") / F.col("n"))
                )
                / (F.col("n") - 1)
            ),
            6,
        ).alias("t_stat"),
    )


@register(
    "d_trimmed_mean",
    oracle="""
WITH c AS (
  SELECT o_orderpriority AS pri,
    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
    o_orderkey
  FROM orders
),
r AS (
  SELECT pri, cents,
    row_number() OVER (PARTITION BY pri ORDER BY cents, o_orderkey) AS rn,
    count(*) OVER (PARTITION BY pri) AS n
  FROM c
)
SELECT pri,
  CAST(max(n) AS BIGINT) AS n_total,
  CAST(count(*) FILTER (WHERE rn > n // 10 AND rn <= n - n // 10)
       AS BIGINT) AS n_kept,
  CAST(sum(cents) FILTER (WHERE rn > n // 10 AND rn <= n - n // 10)
       AS BIGINT) AS sum_kept_cents,
  CAST((sum(cents) FILTER (WHERE rn > n // 10 AND rn <= n - n // 10)) * 1000
       // (count(*) FILTER (WHERE rn > n // 10 AND rn <= n - n // 10))
       AS BIGINT) AS trimmed_mean_millicents
FROM r GROUP BY pri ORDER BY pri
""",
    tags=("D5", "E1"),
)
def d_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% trimmed mean of order value per priority — the robust
    location estimate that survives fat tails without winsorize's
    value substitution. Rank-exact: drop the lowest and highest
    n//10 rows by (cents, orderkey) full-key order, then integer
    sum/count; the mean is emitted in millicents via integer division
    so no double ever materializes cross-engine. One shuffle on the
    group key serves both the ranking window and the aggregate."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        "o_orderkey",
    )
    wp = W.partitionBy("pri")
    r = o.select(
        "pri",
        "cents",
        F.row_number().over(wp.orderBy("cents", "o_orderkey")).alias("rn"),
        F.count("*").over(wp).alias("n"),
    )
    kept = F.col("rn").between(F.expr("n div 10 + 1"), F.expr("n - n div 10"))
    return (
        r.groupBy("pri")
        .agg(
            F.max("n").alias("n_total"),
            F.count(F.when(kept, 1)).alias("n_kept"),
            F.sum(F.when(kept, F.col("cents"))).alias("sum_kept_cents"),
            F.expr(
                "sum(CASE WHEN rn > n div 10 AND rn <= n - n div 10 THEN cents END)"
                " * 1000 div "
                "count(CASE WHEN rn > n div 10 AND rn <= n - n div 10 THEN 1 END)"
            ).alias("trimmed_mean_millicents"),
        )
        .orderBy("pri")
    )


@register(
    "d_simpson_paradox",
    oracle="""
WITH r AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
    count(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS cnt_a,
    coalesce(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
             FILTER (WHERE c_mktsegment = 'BUILDING'), 0) AS cents_a,
    count(*) FILTER (WHERE c_mktsegment = 'MACHINERY') AS cnt_b,
    coalesce(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
             FILTER (WHERE c_mktsegment = 'MACHINERY'), 0) AS cents_b
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
  GROUP BY y
)
SELECT
  CAST(sign(sum(cents_a) * sum(cnt_b) - sum(cents_b) * sum(cnt_a)) AS BIGINT)
    AS overall_sign,
  CAST(count(*) AS BIGINT) AS n_years,
  CAST(count(*) FILTER (WHERE sign(cents_a * cnt_b - cents_b * cnt_a) =
       (SELECT sign(sum(cents_a) * sum(cnt_b) - sum(cents_b) * sum(cnt_a)) FROM r))
       AS BIGINT) AS n_years_agree,
  CAST(count(*) FILTER (WHERE sign(cents_a * cnt_b - cents_b * cnt_a) =
       -(SELECT sign(sum(cents_a) * sum(cnt_b) - sum(cents_b) * sum(cnt_a)) FROM r))
       AS BIGINT) AS n_years_reversed
FROM r
""",
    tags=("D1", "B6"),
)
def d_simpson_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation-reversal (Simpson's paradox) detector: do BUILDING
    customers place larger orders than MACHINERY customers overall,
    and does that comparison hold within every order year? The
    avg-vs-avg comparison is evaluated as the cross-multiplied integer
    sign of cents_a·cnt_b − cents_b·cnt_a — no division, no doubles,
    so the verdict is bit-exact cross-engine. One broadcast join +
    one aggregation produce the yearly strata; the overall comparison
    reuses their sums (a second pass over the tiny per-year frame,
    not the fact table)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    j = o.join(
        maybe_broadcast(c.select("c_custkey", "c_mktsegment"), sf_dir, "customer"),
        o["o_custkey"] == c["c_custkey"],
    )
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    is_a = F.col("c_mktsegment") == "BUILDING"
    is_b = F.col("c_mktsegment") == "MACHINERY"
    r = j.groupBy(F.year("o_orderdate").cast("long").alias("y")).agg(
        F.count(F.when(is_a, 1)).alias("cnt_a"),
        F.coalesce(F.sum(F.when(is_a, cents)), F.lit(0)).alias("cents_a"),
        F.count(F.when(is_b, 1)).alias("cnt_b"),
        F.coalesce(F.sum(F.when(is_b, cents)), F.lit(0)).alias("cents_b"),
    )
    tot = r.agg(
        F.signum(
            (F.sum("cents_a") * F.sum("cnt_b") - F.sum("cents_b") * F.sum("cnt_a"))
            .cast("double")
        )
        .cast("long")
        .alias("overall_sign")
    )
    yearly = r.select(
        F.signum(
            (F.col("cents_a") * F.col("cnt_b") - F.col("cents_b") * F.col("cnt_a"))
            .cast("double")
        )
        .cast("long")
        .alias("ysign")
    )
    return (
        yearly.crossJoin(F.broadcast(tot))
        .agg(
            F.max("overall_sign").alias("overall_sign"),
            F.count("*").alias("n_years"),
            F.count(F.when(F.col("ysign") == F.col("overall_sign"), 1)).alias(
                "n_years_agree"
            ),
            F.count(F.when(F.col("ysign") == -F.col("overall_sign"), 1)).alias(
                "n_years_reversed"
            ),
        )
    )


@register(
    "d_spearman_rho",
    oracle="""
WITH spend AS (
  SELECT c.c_custkey,
    CAST(round(c.c_acctbal * 100, 0) AS BIGINT) AS bal_cents,
    coalesce(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)), 0)
      AS spend_cents
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey, bal_cents
),
r AS (
  SELECT
    row_number() OVER (ORDER BY bal_cents, c_custkey) AS rx,
    row_number() OVER (ORDER BY spend_cents, c_custkey) AS ry,
    count(*) OVER () AS n
  FROM spend
),
s AS (
  SELECT max(n) AS n, sum((rx - ry) * (rx - ry)) AS d2 FROM r
)
SELECT
  CAST(n AS BIGINT) AS n,
  CAST(d2 AS BIGINT) AS sum_d2,
  CAST(n * (n * n - 1) AS BIGINT) AS denom6,
  (6 * d2) * 4 < n * (n * n - 1) * 2 AS strong_positive
FROM s
""",
    tags=("D8", "E1"),
)
def d_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between a customer's account balance
    and their lifetime spend. ρ = 1 − 6·Σd²/(n(n²−1)) never
    materializes as a double: the query emits the exact integer pieces
    (Σd², n(n²−1)) plus the cross-multiplied verdict ρ > 1/2 ⟺
    6·Σd²·4 < n(n²−1)·2 — bit-exact cross-engine. Ranks are made
    deterministic under ties by full-key (value, custkey) row_number
    — the documented rank-exact convention. Scale shape: one join +
    aggregate, then two global rank windows over the customer frame
    (n = customers, far smaller than the fact table); at 100 TB the
    global sort for ranking is the unavoidable cost of exact ranks
    and runs as a range-partitioned sort, not a single-task sort."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    spend = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(
            c["c_custkey"].alias("ck"),
            F.round(c["c_acctbal"] * 100, 0).cast("long").alias("bal_cents"),
        )
        .agg(
            F.coalesce(
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")),
                F.lit(0),
            ).alias("spend_cents")
        )
    )
    r = spend.select(
        F.row_number().over(W.orderBy("bal_cents", "ck")).alias("rx"),
        F.row_number().over(W.orderBy("spend_cents", "ck")).alias("ry"),
        F.count("*").over(W.partitionBy()).alias("n"),
    )
    s = r.agg(
        F.max("n").alias("n"),
        F.sum((F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry"))).alias("d2"),
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("d2").cast("long").alias("sum_d2"),
        (F.col("n") * (F.col("n") * F.col("n") - 1)).cast("long").alias("denom6"),
        (
            (F.lit(6) * F.col("d2")) * 4
            < F.col("n") * (F.col("n") * F.col("n") - 1) * 2
        ).alias("strong_positive"),
    )


@register(
    "d_mutual_information",
    oracle="""
WITH cells AS (
  SELECT lang, source, count(*) AS nij FROM documents GROUP BY lang, source
),
marg AS (
  SELECT c.lang, c.source, c.nij,
    sum(c.nij) OVER (PARTITION BY c.lang) AS ni,
    sum(c.nij) OVER (PARTITION BY c.source) AS nj,
    sum(c.nij) OVER () AS n
  FROM cells c
),
q AS (
  SELECT nij,
    CAST(round(ln(CAST(nij AS DOUBLE) * n / (ni * nj)) * 1000000, 0)
         AS BIGINT) AS pmi_micro
  FROM marg
)
SELECT
  CAST(sum(nij * pmi_micro) AS BIGINT) AS mi_weighted_micro,
  CAST(count(*) AS BIGINT) AS n_cells,
  CAST(max(pmi_micro) AS BIGINT) AS max_pmi_micro,
  CAST(min(pmi_micro) AS BIGINT) AS min_pmi_micro
FROM q
""",
    tags=("D8", "J2"),
)
def d_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between lang and source over the corpus —
    the dependence score used to decide whether a metadata column
    carries signal. MI·N = Σ n_ij·ln(n_ij·N/(n_i·n_j)): each cell's
    log runs ONCE on an integer-ratio argument and is quantized to
    micro-nats immediately (the j_intrinsic_dimension convention —
    summation is then order-free integer math, immune to float
    reassociation across engines). Cell count is |langs|×|sources| —
    tiny at any corpus size; the only corpus-scale work is the first
    groupBy."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count("*").alias("nij"))

    marg = cells.select(
        "nij",
        F.sum("nij").over(W.partitionBy("lang")).alias("ni"),
        F.sum("nij").over(W.partitionBy("source")).alias("nj"),
        F.sum("nij").over(W.partitionBy()).alias("n"),
    )
    pmi_micro = F.round(
        F.log(
            F.col("nij").cast("double")
            * F.col("n")
            / (F.col("ni") * F.col("nj"))
        )
        * 1000000,
        0,
    ).cast("long")
    q = marg.select("nij", pmi_micro.alias("pmi_micro"))
    return q.agg(
        F.sum(F.col("nij") * F.col("pmi_micro")).alias("mi_weighted_micro"),
        F.count("*").alias("n_cells"),
        F.max("pmi_micro").alias("max_pmi_micro"),
        F.min("pmi_micro").alias("min_pmi_micro"),
    )


@register(
    "d_crosstab_api",
    oracle="""
SELECT lang AS lang_source,
  CAST(coalesce(sum(CASE WHEN source = 'src0' THEN 1 END), 0) AS BIGINT)
    AS src0,
  CAST(coalesce(sum(CASE WHEN source = 'src1' THEN 1 END), 0) AS BIGINT)
    AS src1,
  CAST(coalesce(sum(CASE WHEN source = 'src2' THEN 1 END), 0) AS BIGINT)
    AS src2,
  CAST(coalesce(sum(CASE WHEN source = 'src3' THEN 1 END), 0) AS BIGINT)
    AS src3
FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')
GROUP BY lang ORDER BY lang
""",
    tags=("D4", "B1"),
)
def d_crosstab_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.stat.crosstab — Spark's contingency-table API (the
    one-call lang×source census). The API returns counts with the
    row variable serialized into a 'lang_source' key column and one
    column per distinct source value; the oracle reproduces that
    exact shape with conditional aggregation. Same single-shuffle
    cost as the groupBy it wraps."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1", "src2", "src3")
    )
    ct = d.stat.crosstab("lang", "source")
    cols = ["src0", "src1", "src2", "src3"]
    # crosstab emits a column only for OBSERVED source values — pad
    # absent ones with 0 so the contingency shape is stable on any
    # input (the oracle's conditional aggregation always has 4 cols)
    have = set(ct.columns)
    return ct.select(
        "lang_source",
        *[
            (F.col(c) if c in have else F.lit(0)).cast("long").alias(c)
            for c in cols
        ],
    ).orderBy("lang_source")


@register(
    "d_auc_rank",
    oracle="""
WITH scored AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS score, event_id,
    event_type = 'purchase' AS pos
  FROM events WHERE value > 0
),
ranked AS (
  SELECT pos,
    row_number() OVER (ORDER BY score, event_id) AS rnk
  FROM scored
),
agg AS (
  SELECT count(*) FILTER (WHERE pos) AS n1,
    count(*) FILTER (WHERE NOT pos) AS n0,
    sum(CASE WHEN pos THEN rnk ELSE 0 END) AS rank_sum
  FROM ranked
)
SELECT
  CAST(n1 AS BIGINT) AS n_pos,
  CAST(n0 AS BIGINT) AS n_neg,
  CAST(rank_sum - n1 * (n1 + 1) // 2 AS BIGINT) AS u_statistic,
  CAST((rank_sum - n1 * (n1 + 1) // 2) * 1000000 // (n1 * n0) AS BIGINT)
    AS auc_ppm
FROM agg
""",
    tags=("D8", "E1"),
)
def d_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC-ROC computed the rank way — AUC is the Mann-Whitney U
    statistic normalized by n₁·n₀, so treating event value as a
    'purchase classifier' score gives the exact area under the ROC
    curve from ONE global rank window and an aggregate: no threshold
    sweep, no curve materialization. Ranks are full-key deterministic
    ((score, event_id)); AUC comes out in integer ppm. The standard
    offline-eval op for any scoring model at corpus scale."""

    scored = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value") > 0)
        .select(
            F.round(F.col("value") * 100, 0).cast("long").alias("score"),
            "event_id",
            (F.col("event_type") == "purchase").alias("pos"),
        )
    )
    ranked = scored.select(
        "pos", F.row_number().over(W.orderBy("score", "event_id")).alias("rnk")
    )
    agg = ranked.agg(
        F.count(F.when(F.col("pos"), 1)).alias("n1"),
        F.count(F.when(~F.col("pos"), 1)).alias("n0"),
        F.sum(F.when(F.col("pos"), F.col("rnk")).otherwise(0)).alias("rank_sum"),
    )
    return agg.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        F.expr("rank_sum - n1 * (n1 + 1) div 2").alias("u_statistic"),
        # one class absent → AUC undefined → NULL (DuckDB // 0), not
        # an ANSI abort
        F.when(
            F.col("n1") * F.col("n0") > 0,
            F.expr("(rank_sum - n1 * (n1 + 1) div 2) * 1000000 div (n1 * n0)"),
        ).alias("auc_ppm"),
    )


@register(
    "d_powerlaw_slope",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM pairs UNION ALL SELECT b AS node FROM pairs
  ) GROUP BY node
),
buckets AS (
  SELECT CAST(floor(log2(d)) AS BIGINT) AS x, count(*) AS cnt
  FROM deg GROUP BY x
),
pts AS (
  SELECT x, CAST(round(log2(CAST(cnt AS DOUBLE)) * 1000, 0) AS BIGINT)
    AS y_milli
  FROM buckets
),
s AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y_milli) AS sy,
    sum(x * x) AS sxx, sum(x * y_milli) AS sxy
  FROM pts
)
SELECT
  CAST(n AS BIGINT) AS n_buckets,
  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
  CAST((n * sxy - sx * sy) * 1000 // (n * sxx - sx * sx) AS BIGINT)
    AS slope_micro
FROM s
""",
    tags=("D8", "D1"),
)
def d_powerlaw_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law tail diagnosis of the co-purchase degree
    distribution: bucket degrees by ⌊log₂ d⌋, quantize each bucket's
    log₂(count) to integer milli-units (one log per bucket — the
    micro-quantization convention that makes downstream arithmetic
    order-free), then the least-squares slope over the log-log points
    comes out as an exact integer fraction (n·Σxy − Σx·Σy) /
    (n·Σx² − (Σx)²), emitted with numerator and denominator so the
    verdict needs no floating division. Slope ≈ −α estimates the
    degree exponent — the number that predicts whether hub-skew will
    hurt a join. Bucket count is O(log max-degree): the regression
    runs on a handful of rows."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    l1, l2 = li.alias("l1"), li.alias("l2")
    pairs = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
        )
        .select(F.col("l1.l_partkey").alias("a"), F.col("l2.l_partkey").alias("b"))
        .distinct()
    )
    deg = (
        pairs.select(F.col("a").alias("node"))
        .unionAll(pairs.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    buckets = deg.groupBy(
        F.floor(F.log2("d")).cast("long").alias("x")
    ).agg(F.count("*").alias("cnt"))
    pts = buckets.select(
        "x",
        F.round(F.log2(F.col("cnt").cast("double")) * 1000, 0)
        .cast("long")
        .alias("y_milli"),
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y_milli").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y_milli")).alias("sxy"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_buckets"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("long")
        .alias("slope_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("long")
        .alias("slope_den"),
        # a degenerate point set (0 or 1 bucket, or zero-variance x)
        # has slope_den 0 → NULL slope, matching DuckDB's // semantics
        F.when(
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") != 0,
            F.expr("(n * sxy - sx * sy) * 1000 div (n * sxx - sx * sx)"),
        ).alias("slope_micro"),
    )


# Poisson(1) inverse-CDF thresholds out of 1e6 (cumulative e^-1 * 1/k!):
# u < 367879 → 0, < 735759 → 1, < 919699 → 2, < 981012 → 3,
# < 996340 → 4, < 999406 → 5, < 999917 → 6, < 999990 → 7, else 8
_POIS = [(367879, 0), (735759, 1), (919699, 2), (981012, 3),
         (996340, 4), (999406, 5), (999917, 6), (999990, 7)]


def _pois_case(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for t, k in _POIS
    )
    return f"CASE {branches} ELSE 8 END"


@register(
    "d_poisson_bootstrap_ci",
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
    sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY d
),
reps AS (
  SELECT b, d, cents,
    {_pois_case("('0x' || substr(md5(CAST(d AS VARCHAR) || '-' || CAST(b AS VARCHAR)), 1, 8))::BIGINT % 1000000")}
      AS w
  FROM daily CROSS JOIN (SELECT unnest(range(0, 16)) AS b)
),
totals AS (
  SELECT b, sum(w * cents) AS total FROM reps GROUP BY b
)
SELECT
  CAST(16 AS BIGINT) AS n_replicates,
  CAST((SELECT sum(cents) FROM daily) AS BIGINT) AS observed_total,
  CAST(min(total) AS BIGINT) AS boot_min,
  CAST(max(total) AS BIGINT) AS boot_max,
  CAST(sum(total) // 16 AS BIGINT) AS boot_mean,
  (min(total) <= (SELECT sum(cents) FROM daily)
   AND (SELECT sum(cents) FROM daily) <= max(total)) AS observed_in_range
FROM totals
""",
    tags=("D5", "D8"),
)
def d_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap over daily purchase revenue — the resampling
    scheme that actually works on distributed data: instead of drawing
    n rows WITH replacement (which needs a global index and a shuffle
    per replicate), every row independently receives a Poisson(1)
    weight per replicate, and all 16 replicates compute in ONE pass
    over a 16× row fan-out. Determinism: the 'random' draw is the md5
    of (day, replicate) mapped through the exact Poisson(1) inverse
    CDF in integer millionths — same weights in any engine, any run.
    Emits the bootstrap range of the revenue total and whether the
    observed total falls inside it (it essentially always does — the
    check that the weighting is centered)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents")
    )
    reps = daily.crossJoin(
        spark.range(16).select(F.col("id").cast("int").alias("b"))
    ).select(
        "b",
        "cents",
        F.expr(
            _pois_case(
                "cast(conv(substr(md5(concat(cast(d as string), '-',"
                " cast(b as string))), 1, 8), 16, 10) as bigint) % 1000000"
            )
        ).alias("w"),
    )
    totals = reps.groupBy("b").agg(F.sum(F.col("w") * F.col("cents")).alias("total"))
    observed = daily.agg(F.sum("cents").alias("obs"))
    return totals.crossJoin(observed).agg(
        F.lit(16).cast("long").alias("n_replicates"),
        F.max("obs").alias("observed_total"),
        F.min("total").alias("boot_min"),
        F.max("total").alias("boot_max"),
        F.expr("sum(total) div 16").alias("boot_mean"),
        (
            (F.min("total") <= F.max("obs")) & (F.max("obs") <= F.max("total"))
        ).alias("observed_in_range"),
    )


@register(
    "d_salted_agg",
    oracle="""
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
  CAST(max(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS max_cents
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("D1", "C10"),
)
def d_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation — the hot-key fix for AGGREGATION
    (sibling of c_skew_salted_join): event_type has only 5 values, so
    a direct groupBy funnels the whole table through 5 reducers at
    scale. Phase 1 groups by (event_type, salt16) — 80 evenly-sized
    cells; phase 2 merges the 80 partials — every aggregate here is
    algebraically mergeable (count→sum, sum→sum, max→max). The result
    must equal the direct single-phase groupBy exactly (the oracle IS
    the direct form). Spark's partial aggregation does this implicitly
    per-partition; explicit salting is the control you reach for when
    one reducer still drowns (e.g. after a join re-shuffles on the hot
    key)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        F.pmod(F.xxhash64("event_id"), F.lit(16)).alias("salt"),
    )
    phase1 = e.groupBy("event_type", "salt").agg(
        F.count("*").alias("pn"),
        F.sum("cents").alias("pcents"),
        F.max("cents").alias("pmax"),
    )
    return (
        phase1.groupBy("event_type")
        .agg(
            F.sum("pn").alias("n"),
            F.sum("pcents").alias("cents"),
            F.max("pmax").alias("max_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "d_harmonic_mean_quantized",
    oracle="""
WITH unit AS (
  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT)
           // CAST(l_quantity AS BIGINT) AS unit_cents
  FROM lineitem WHERE l_quantity > 0
),
recip AS (
  SELECT unit_cents, 1000000000000 // unit_cents AS r_pico
  FROM unit WHERE unit_cents > 0
)
SELECT
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(r_pico) AS BIGINT) AS sum_recip_pico,
  CAST(count(*) * 1000000000000 // sum(r_pico) AS BIGINT)
    AS harmonic_mean_cents,
  CAST(sum(unit_cents) // count(*) AS BIGINT) AS arith_mean_cents,
  (count(*) * 1000000000000 // sum(r_pico) <= sum(unit_cents) // count(*))
    AS am_hm_inequality_ok
FROM recip
""",
    tags=("D1", "H3"),
)
def d_harmonic_mean_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic mean of unit prices — the correct average for rates
    (average price per unit when each line contributes equal quantity
    weight). Reciprocals are quantized to pico-units (1e12 // x) so
    the sum is order-free integer math and both engines produce the
    identical quantized HM — the same one-log/one-division quantize
    discipline as d_mutual_information. The AM ≥ HM inequality is
    emitted as an in-plan boolean — a mathematical identity the
    quantization must not break (truncation only ever LOWERS the
    reported HM, preserving the bound)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    unit = li.select(
        F.expr(
            "cast(round(l_extendedprice * 100, 0) as bigint)"
            " div cast(l_quantity as bigint)"
        ).alias("unit_cents")
    ).filter(F.col("unit_cents") > 0)
    recip = unit.select(
        "unit_cents", F.expr("1000000000000 div unit_cents").alias("r_pico")
    )
    return recip.agg(
        F.count("*").alias("n"),
        F.sum("r_pico").alias("sum_recip_pico"),
        F.expr("count(*) * 1000000000000 div sum(r_pico)").alias(
            "harmonic_mean_cents"
        ),
        F.expr("sum(unit_cents) div count(*)").alias("arith_mean_cents"),
        F.expr(
            "count(*) * 1000000000000 div sum(r_pico)"
            " <= sum(unit_cents) div count(*)"
        ).alias("am_hm_inequality_ok"),
    )
