"""G-family entries: set operations and deduplication.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.registry import register


@register(
    "g_union_by_name",
    oracle="""
WITH u AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL BY NAME
  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 3 = 0
)
SELECT CAST(count(*) AS BIGINT)                        AS n,
  CAST(count(o_totalprice) AS BIGINT)                  AS n_price,
  CAST(count(o_custkey) AS BIGINT)                     AS n_cust,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
  CAST(count(DISTINCT o_orderkey) AS BIGINT)           AS n_keys
FROM u
""",
    tags=("G1", "B5"),
)
def g_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift union: unionByName(allowMissingColumns=True) —
    the append that survives a producer adding/dropping columns
    between batches. Missing columns null-fill on each side.

    Both branches read the same parquet scan shape; Catalyst unions
    them without a shuffle (Union is a narrow op) and the single
    aggregate that follows is the only exchange.
    """
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    b = o.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey", "o_custkey")
    u = a.unionByName(b, allowMissingColumns=True)
    return u.agg(
        F.count("*").alias("n"),
        F.count("o_totalprice").alias("n_price"),
        F.count("o_custkey").alias("n_cust"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        F.countDistinct("o_orderkey").alias("n_keys"),
    )


@register(
    "g_except_all",
    oracle="""
WITH a AS (SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 0),
     b AS (SELECT o_custkey FROM orders WHERE o_orderkey % 3 = 0),
     ex AS (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b),
     ins AS (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM ex)                  AS n_except,
  (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM ex) AS d_except,
  (SELECT CAST(sum(o_custkey) AS BIGINT) FROM ex)            AS sum_except,
  (SELECT CAST(count(*) AS BIGINT) FROM ins)                 AS n_intersect,
  (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM ins) AS d_intersect,
  (SELECT CAST(sum(o_custkey) AS BIGINT) FROM ins)           AS sum_intersect
""",
    tags=("G2",),
)
def g_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL / INTERSECT ALL — bag semantics where the
    DISTINCT variants (g_except, g_intersect) would collapse
    duplicates: count_a(x) − count_b(x) clamped at 0, and
    min(count_a, count_b) respectively.

    Spark plans both as a single aggregate computing per-key
    occurrence counts then re-generating rows — one shuffle on the
    key, no join. The output is collapsed to multiset invariants
    (cardinality, support, key-sum) so the driver hashes six numbers,
    not a 30k-row bag.
    """
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 2 == 0).select("o_custkey")
    b = o.filter(F.col("o_orderkey") % 3 == 0).select("o_custkey")
    ex = a.exceptAll(b).agg(
        F.count("*").alias("n_except"),
        F.countDistinct("o_custkey").alias("d_except"),
        F.sum("o_custkey").alias("sum_except"),
    )
    ins = a.intersectAll(b).agg(
        F.count("*").alias("n_intersect"),
        F.countDistinct("o_custkey").alias("d_intersect"),
        F.sum("o_custkey").alias("sum_intersect"),
    )
    return ex.crossJoin(ins)


@register(
    "g_symmetric_diff",
    oracle="""
WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders
           WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
b AS (SELECT DISTINCT o_custkey AS k FROM orders
      WHERE o_orderpriority IN ('2-HIGH', '3-MEDIUM')),
onlya AS (SELECT k FROM a EXCEPT SELECT k FROM b),
onlyb AS (SELECT k FROM b EXCEPT SELECT k FROM a),
inboth AS (SELECT k FROM a INTERSECT SELECT k FROM b)
SELECT
  CAST((SELECT count(*) FROM a) AS BIGINT) AS n_a,
  CAST((SELECT count(*) FROM b) AS BIGINT) AS n_b,
  CAST((SELECT count(*) FROM onlya) + (SELECT count(*) FROM onlyb)
       AS BIGINT) AS n_sym_diff,
  CAST((SELECT count(*) FROM inboth) AS BIGINT) AS n_both,
  ((SELECT count(*) FROM a) + (SELECT count(*) FROM b)
   = (SELECT count(*) FROM onlya) + (SELECT count(*) FROM onlyb)
     + 2 * (SELECT count(*) FROM inboth)) AS inclusion_exclusion_ok
""",
    tags=("G2", "D2"),
)
def g_symmetric_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric difference between two customer sets (urgent/high
    buyers vs high/medium buyers): customers in EXACTLY one set —
    composed as (A∖B) ∪ (B∖A) with the inclusion–exclusion law
    |A| + |B| = |AΔB| + 2·|A∩B| proven in-plan (the identity that
    catches a dedup bug in either EXCEPT branch). All four set ops
    shuffle on the same key — Catalyst plans them as left-anti /
    left-semi joins over one exchange shape."""
    o = load_table(spark, sf_dir, "orders")
    a = (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    b = (
        o.filter(F.col("o_orderpriority").isin("2-HIGH", "3-MEDIUM"))
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    only_a = a.exceptAll(b)
    only_b = b.exceptAll(a)
    both = a.intersect(b)
    return (
        a.agg(F.count("*").alias("n_a"))
        .crossJoin(b.agg(F.count("*").alias("n_b")))
        .crossJoin(
            only_a.unionAll(only_b).agg(F.count("*").alias("n_sym_diff"))
        )
        .crossJoin(both.agg(F.count("*").alias("n_both")))
        .select(
            "n_a",
            "n_b",
            "n_sym_diff",
            "n_both",
            (
                F.col("n_a") + F.col("n_b")
                == F.col("n_sym_diff") + 2 * F.col("n_both")
            ).alias("inclusion_exclusion_ok"),
        )
    )
