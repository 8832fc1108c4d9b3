"""Round-3 widening batch 44: the true Kaplan-Meier survival curve
(cumulative products as integer ppm prefix-folds — no window
expresses a running product exactly) and source-target reconciliation
via order-free bucketed XOR digests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.functions.timeutil import epoch_us
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.registry import register


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
    suffix = Window.orderBy("age").rowsBetween(Window.currentRow, Window.unboundedFollowing)
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
    "etl_reconciliation_digest",
    oracle="""
WITH rows_h AS (
  SELECT o_orderkey % 16 AS bucket,
    (ascii(substr(md5(CAST(o_orderkey AS VARCHAR) || '|'
        || CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR)), 1, 1))
     * 65536
     + ascii(substr(md5(CAST(o_orderkey AS VARCHAR) || '|'
        || CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR)), 2, 1))
     * 256
     + ascii(substr(md5(CAST(o_orderkey AS VARCHAR) || '|'
        || CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR)), 3, 1))
    ) AS h
  FROM orders
)
SELECT CAST(bucket AS BIGINT) AS bucket,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(bit_xor(h) AS BIGINT) AS digest,
  TRUE AS reconciled
FROM rows_h GROUP BY bucket ORDER BY bucket
""",
    tags=("H4", "A5", "L"),
)
def etl_reconciliation_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-target reconciliation by ORDER-FREE bucketed digests:
    every row hashes its business payload (md5 — the shared hash),
    rows XOR-fold into 16 key-bucketed digests, and the digests of
    the MIGRATED copy (physically re-written parquet, re-read from
    disk) must equal the source's — the O(buckets)-comparison
    migration check that catches any lost, duplicated, or mutated
    row without sorting or row-by-row diffing (XOR is commutative:
    shard order and parallelism can't affect it). `reconciled` is
    the in-plan equality of both digest sets; the oracle recomputes
    the source side independently.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    # concat (NULL-propagating, like the oracle's ||), not concat_ws:
    # a NULL payload hashes to NULL and falls out of the XOR digest on
    # both engines identically
    h = F.md5(
        F.concat(
            F.col("o_orderkey").cast("string"),
            F.lit("|"),
            F.col("cents").cast("string"),
        )
    )
    hv = (
        F.ascii(F.substring(h, 1, 1)) * 65536
        + F.ascii(F.substring(h, 2, 1)) * 256
        + F.ascii(F.substring(h, 3, 1))
    ).cast("long")

    def digests(df: DataFrame) -> DataFrame:
        return (
            df.select((F.col("o_orderkey") % 16).alias("bucket"), hv.alias("h"))
            .groupBy("bucket")
            .agg(F.count("*").alias("n_rows"), F.bit_xor("h").alias("digest"))
        )

    src_digest = digests(o)
    path = scratch("reconciliation_copy")
    o.repartition(8).write.mode("overwrite").parquet(path)
    tgt = spark.read.parquet(path)
    tgt_digest = digests(tgt).select(
        F.col("bucket").alias("tb"),
        F.col("n_rows").alias("tn"),
        F.col("digest").alias("td"),
    )
    joined = src_digest.join(tgt_digest, src_digest.bucket == F.col("tb"), "full_outer")
    mismatches = joined.filter(
        F.col("bucket").isNull()
        | F.col("tb").isNull()
        | (F.col("n_rows") != F.col("tn"))
        | (F.col("digest") != F.col("td"))
    ).count()
    return (
        src_digest.withColumn("reconciled", F.lit(bool(mismatches == 0)))
        .select("bucket", "n_rows", "digest", "reconciled")
        .orderBy("bucket")
    )
