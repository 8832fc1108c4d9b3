"""F-family entries: sort, limit, sampling and pagination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.registry import register


@register(
    "f_null_ordering",
    oracle="""
WITH t AS (
  SELECT c_custkey, c_name,
         CASE WHEN c_acctbal < 0 THEN NULL ELSE round(c_acctbal, 2) END AS bal
  FROM customer
),
nf AS (
  SELECT c_custkey, bal,
         row_number() OVER (ORDER BY bal ASC NULLS FIRST, c_custkey) AS rn
  FROM t
),
nl AS (
  SELECT c_custkey, bal,
         row_number() OVER (ORDER BY bal DESC NULLS LAST, c_custkey) AS rn
  FROM t
)
SELECT 'nulls_first_head' AS probe, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(min(c_custkey) AS BIGINT) AS min_key,
       CAST(sum(c_custkey) AS BIGINT) AS key_sum
FROM nf WHERE rn <= 50
UNION ALL
SELECT 'nulls_last_head' AS probe, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(min(c_custkey) AS BIGINT) AS min_key,
       CAST(sum(c_custkey) AS BIGINT) AS key_sum
FROM nl WHERE rn <= 50
ORDER BY probe
""",
    tags=("F1", "B5"),
)
def f_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit null placement in sorts: `asc_nulls_first` /
    `desc_nulls_last` — the knob that differs across engines (Spark
    defaults nulls-first-on-asc, many SQL engines nulls-last), so any
    pipeline porting ORDER BY logic must pin it explicitly. Nulls are
    injected (negative balances → NULL) since the fixture has none.

    Each probe takes the head-50 of one ordering and emits aggregate
    evidence (null count, key checksum) rather than 50 raw rows —
    deterministic via the c_custkey tie-break.
    """
    from pyspark.sql import Window as W

    c = load_table(spark, sf_dir, "customer")
    t = c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit(None))
        .otherwise(F.round("c_acctbal", 2))
        .alias("bal"),
    )

    def head_probe(order_cols, probe: str) -> DataFrame:
        w = W.orderBy(*order_cols)
        return (
            t.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 50)
            .agg(
                F.lit(probe).alias("probe"),
                F.count("*").alias("n"),
                F.sum(F.when(F.col("bal").isNull(), 1).otherwise(0)).alias(
                    "n_null"
                ),
                F.min("c_custkey").alias("min_key"),
                F.sum("c_custkey").alias("key_sum"),
            )
            .select("probe", "n", "n_null", "min_key", "key_sum")
        )

    nf = head_probe(
        [F.col("bal").asc_nulls_first(), F.col("c_custkey").asc()],
        "nulls_first_head",
    )
    nl = head_probe(
        [F.col("bal").desc_nulls_last(), F.col("c_custkey").asc()],
        "nulls_last_head",
    )
    return nf.unionAll(nl).orderBy("probe")


@register(
    "f_keyset_pagination",
    oracle="""
WITH pages AS (
  SELECT o_orderkey, o_orderdate, o_totalprice,
    row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
)
SELECT o_orderkey,
  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
FROM pages WHERE rn > 40 AND rn <= 60
ORDER BY o_orderdate, o_orderkey
""",
    tags=("F2", "F1"),
)
def f_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek) pagination — the OFFSET replacement that survives
    deep pages: page 3 (rows 41-60 by (o_orderdate, o_orderkey)) is
    fetched by seeking past the last key of page 2 with a tuple
    comparison, then LIMIT 20. OFFSET n must *produce and discard* n
    rows on every page (cost grows linearly with page depth); the
    keyset predicate pushes to the scan and the plan is a plain
    filtered top-k at any depth. The anchor key is obtained the way a
    real paginated API holds it: the previous page's last row (one
    bounded collect of a 20-row page). Oracle cross-checks against
    the row_number formulation."""
    o = load_table(spark, sf_dir, "orders")
    page2_rows = (
        o.orderBy("o_orderdate", "o_orderkey")
        .limit(40)
        .orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
        .limit(1)
        .select("o_orderdate", "o_orderkey")
        .collect()
    )
    if page2_rows:
        ad, ak = page2_rows[0]["o_orderdate"], page2_rows[0]["o_orderkey"]
        seek = (F.col("o_orderdate") > F.lit(ad)) | (
            (F.col("o_orderdate") == F.lit(ad)) & (F.col("o_orderkey") > ak)
        )
    else:
        # no page-2 anchor exists (table smaller than two pages):
        # page 3 is empty, same as the oracle's row_number window
        seek = F.lit(False)
    return (
        o.filter(seek)
        .orderBy("o_orderdate", "o_orderkey")
        .limit(20)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
    )


@register(
    "f_systematic_sample",
    oracle="""
WITH ranked AS (
  SELECT o_orderpriority AS pri,
    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
    row_number() OVER (PARTITION BY o_orderpriority
                       ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
)
SELECT pri,
  CAST(count(*) AS BIGINT) AS n_sampled,
  CAST(sum(cents) AS BIGINT) AS sampled_cents,
  CAST(min(rn) AS BIGINT) AS first_rank,
  CAST(max(rn) AS BIGINT) AS last_rank
FROM ranked WHERE rn % 10 = 3
GROUP BY pri ORDER BY pri
""",
    tags=("F4", "E1"),
)
def f_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified SYSTEMATIC sampling: within each priority stratum,
    rank by (date, key) and keep every 10th row at a fixed offset —
    the census/audit design that guarantees even coverage across the
    ordering dimension (a seeded random sample can cluster; the
    systematic grid cannot), and it's exactly reproducible with no
    seed infrastructure at all. Distinct from f_sample's Bernoulli
    draw. One rank window per stratum, then a modulus filter."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderdate", "o_orderkey")
    ranked = o.select(
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.row_number().over(w).alias("rn"),
    )
    return (
        ranked.filter(F.col("rn") % 10 == 3)
        .groupBy("pri")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("cents").alias("sampled_cents"),
            F.min("rn").alias("first_rank"),
            F.max("rn").alias("last_rank"),
        )
        .orderBy("pri")
    )
