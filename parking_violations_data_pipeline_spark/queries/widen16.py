"""Round-3 widening batch 17: operational/compliance composites —
GDPR right-to-be-forgotten erasure with physical re-read proof,
duplicate-invoice fraud mining (equi-join blocking + band residual),
and cohort lifetime-value accumulation.

House rules (registry.py): identical aliases both sides, BIGINT casts
around DuckDB integer aggregates, exact cents, total-order
tie-breaks, no array-typed output columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.catalog import maybe_broadcast
from parking_violations_data_pipeline_spark.registry import register

@register(
    "etl_gdpr_erasure",
    oracle="""
WITH req AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 13 = 0
),
before AS (
  SELECT CAST(count(*) AS BIGINT) AS n_before FROM events
),
kept AS (
  SELECT e.* FROM events e LEFT JOIN req r ON e.user_id = r.user_id
  WHERE r.user_id IS NULL
)
SELECT
  (SELECT n_before FROM before)                       AS n_before,
  (SELECT CAST(count(*) AS BIGINT) FROM req)          AS n_requested_users,
  (SELECT n_before FROM before)
    - CAST(count(*) AS BIGINT)                        AS n_deleted_rows,
  CAST(count(*) AS BIGINT)                            AS n_after,
  CAST(sum(CASE WHEN user_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                      AS n_residual_rows
FROM kept
""",
    tags=("L", "C5", "A5"),
)
def etl_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure as a pipeline stage: anti-join
    the events table against the deletion-request list (users with
    user_id % 13 == 0 stand in for a DSAR batch), physically rewrite
    the retained data, then RE-READ the rewritten files and audit —
    rows deleted, rows remaining, and the residual count of requested
    users still present (must be 0, and is MEASURED from the re-read,
    not assumed from the plan). The re-read is the compliance point:
    proof lives in what's on disk, not in what the job intended.

    The anti-join broadcasts the request list (deletion batches are
    small relative to the corpus); the rewrite is a straight
    partition-parallel copy of survivors.
    """
    e = load_table(spark, sf_dir, "events")
    req = e.filter(F.col("user_id") % 13 == 0).select("user_id").distinct()
    n_before = e.count()
    n_requested = req.count()
    out = scratch("gdpr_erasure")
    e.join(maybe_broadcast(req, sf_dir, "events"), "user_id", "left_anti").write.mode(
        "overwrite"
    ).parquet(out)
    kept = spark.read.parquet(out)
    return kept.agg(
        F.lit(n_before).cast("long").alias("n_before"),
        F.lit(n_requested).cast("long").alias("n_requested_users"),
        (F.lit(n_before) - F.count("*")).cast("long").alias("n_deleted_rows"),
        F.count("*").alias("n_after"),
        F.sum(F.when(F.col("user_id") % 13 == 0, 1).otherwise(0)).alias(
            "n_residual_rows"
        ),
    )


@register(
    "c_fraud_dup_invoices",
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_custkey, o_orderdate,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
pairs AS (
  SELECT a.o_custkey,
         datediff('day', a.o_orderdate, b.o_orderdate) AS gap_days
  FROM o a JOIN o b
    ON a.o_custkey = b.o_custkey AND a.cents = b.cents
   AND a.o_orderkey < b.o_orderkey
  WHERE abs(datediff('day', a.o_orderdate, b.o_orderdate)) <= 30
)
SELECT
  CAST(count(*) AS BIGINT)                  AS n_pairs,
  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
  CAST(min(abs(gap_days)) AS BIGINT)        AS min_gap,
  CAST(max(abs(gap_days)) AS BIGINT)        AS max_gap
FROM pairs
""",
    tags=("C7", "C1", "B3"),
)
def c_fraud_dup_invoices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-invoice detection: two orders from the same customer
    for the EXACT same amount within 30 days — the standard
    double-billing / replay screen. The join is blocked on
    (customer, amount-cents) — an equi-join whose collision classes
    are tiny by construction — with the date band as a cheap residual;
    never a cross join, never a date-range join over the full fact.
    o_orderkey < o_orderkey dedups the symmetric pair.

    At 100 TB the same blocking holds: amount-exact collisions per
    customer stay small no matter the corpus, which is what makes
    exact-amount screens run where fuzzy-amount ones need LSH.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    a = o.alias("a")
    b = o.alias("b")
    gap = F.datediff(F.col("b.o_orderdate"), F.col("a.o_orderdate"))
    pairs = (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.cents") == F.col("b.cents"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .filter(F.abs(gap) <= 30)
        .select(F.col("a.o_custkey").alias("o_custkey"), gap.alias("gap_days"))
    )
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.min(F.abs("gap_days")).alias("min_gap"),
        F.max(F.abs("gap_days")).alias("max_gap"),
    )


@register(
    "q_cohort_ltv",
    oracle="""
WITH o AS (
  SELECT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
cohort AS (
  SELECT o_custkey, min(m) AS m0 FROM o GROUP BY o_custkey
),
rev AS (
  SELECT c.m0, o.m - c.m0 AS age,
         CAST(sum(o.cents) AS BIGINT) AS cents,
         CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active
  FROM o JOIN cohort c ON o.o_custkey = c.o_custkey
  GROUP BY c.m0, o.m - c.m0
),
sized AS (
  SELECT m0, CAST(count(*) AS BIGINT) AS cohort_size FROM cohort GROUP BY m0
)
SELECT r.m0 AS cohort_month, r.age, s.cohort_size, r.n_active,
  CAST(sum(r.cents) OVER (PARTITION BY r.m0 ORDER BY r.age
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                                                   AS ltv_cum_cents
FROM rev r JOIN sized s ON r.m0 = s.m0
ORDER BY cohort_month, age
""",
    tags=("E3", "D1", "C1"),
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: customers grouped by first-order month,
    revenue accumulated over cohort age — the curve that says how much
    a cohort is worth N months in (and whose flattening point sets the
    payback window). Months are exact integers (year·12+month), cents
    exact, the LTV accumulation a prefix sum over the tiny
    (cohort, age) grid — all the volume work happens in the first
    aggregation at (customer, month) co-partitioned grain.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    cohort = o.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    rev = (
        o.join(cohort, "o_custkey")
        .groupBy("m0", (F.col("m") - F.col("m0")).alias("age"))
        .agg(
            F.sum("cents").alias("cents"),
            F.countDistinct("o_custkey").alias("n_active"),
        )
    )
    sized = cohort.groupBy("m0").agg(F.count("*").alias("cohort_size"))
    w = W.partitionBy("m0").orderBy("age").rowsBetween(W.unboundedPreceding, 0)
    return (
        rev.join(sized, "m0")
        .select(
            F.col("m0").alias("cohort_month"),
            "age",
            "cohort_size",
            "n_active",
            F.sum("cents").over(w).alias("ltv_cum_cents"),
        )
        .orderBy("cohort_month", "age")
    )
