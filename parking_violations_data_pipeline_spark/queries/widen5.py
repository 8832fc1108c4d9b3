"""Round-3 widening batch 6: physical-layout and plan-level scale
machinery — dynamic partition pruning through a partitioned-parquet
join, Z-order (Morton) clustering with per-file zone-map envelopes,
and the Mann-Whitney rank-sum drift test completing the drift-stat
family (KS + PSI in widen4).

These entries exist to prove the ENGINE behaviors that matter at
100 TB, not just query semantics: DPP turns a dim filter into a fact
partition filter at runtime (the difference between scanning ~5 of 25
nation partitions and all of them), and Z-order bounds the envelope
of EVERY clustered column per file, so zone-map skipping works on
either predicate — a linear sort only bounds the leading key.

House rules (registry.py): identical aliases both sides, BIGINT casts
around DuckDB integer aggregates, doubles rounded on both sides,
total-order tie-breaks, no array-typed output columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.catalog import maybe_broadcast
from parking_violations_data_pipeline_spark.registry import register

@register(
    "c_dpp_partition_pruned_join",
    oracle="""
SELECT CAST(s_nationkey AS BIGINT) AS supp_nation,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE n_regionkey = 2
GROUP BY s_nationkey ORDER BY supp_nation
""",
    tags=("C3", "A5", "A1"),
)
def c_dpp_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning through the canonical star-schema
    shape: the fact table is WRITTEN partitioned by supplier nation
    (25 partitions), and the dim is the NATION table filtered on a
    NON-key attribute (n_regionkey = 2). Which 5 nation keys qualify
    is only known after scanning the dim at runtime — a static
    optimizer cannot prune the fact — so Spark's PartitionPruning rule
    plants a dynamicpruning subquery into the fact scan's
    PartitionFilters and reuses the join's broadcast to evaluate it:
    5 of 25 partitions are read, the rest never open a file.

    At 100 TB this is the difference between scanning a fifth of a
    date/tenant-partitioned fact and scanning all of it every time a
    dim filter ("this region", "these account tiers") appears.
    tests/test_plans_widen45.py pins `dynamicpruningexpression` inside
    the re-read scan. The oracle checks the logical join result, which
    must be byte-equal regardless of pruning.
    """
    path = scratch("dpp_fact", sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    fact = li.join(maybe_broadcast(supp, sf_dir, "supplier"), li.l_suppkey == supp.s_suppkey).select(
        "l_extendedprice", F.col("s_nationkey").alias("supp_nation")
    )
    fact.write.mode("overwrite").partitionBy("supp_nation").parquet(path)
    # explicit schema: an empty fact writes no files (inference fails)
    back = spark.read.schema(fact.schema).parquet(path)
    dim = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 2)
        .select("n_nationkey")
    )
    return (
        back.join(F.broadcast(dim), back.supp_nation == dim.n_nationkey)
        .groupBy(F.col("supp_nation").cast("long").alias("supp_nation"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents"),
        )
        .orderBy("supp_nation")
    )


@register(
    "etl_zorder_cluster",
    oracle="""
WITH bounds AS (
  SELECT min(l_partkey) AS p0, max(l_partkey) AS p1,
         min(l_suppkey) AS s0, max(l_suppkey) AS s1
  FROM lineitem
),
coded AS (
  SELECT l_partkey, l_suppkey,
    CAST(floor((l_partkey - p0) * 16.0 / (p1 - p0 + 1)) AS BIGINT) AS bx,
    CAST(floor((l_suppkey - s0) * 16.0 / (s1 - s0 + 1)) AS BIGINT) AS by
  FROM lineitem, bounds
),
z AS (
  SELECT l_partkey, l_suppkey,
    ((bx & 1) << 1) | ((bx & 2) << 2) | ((bx & 4) << 3) | ((bx & 8) << 4)
      | (by & 1) | ((by & 2) << 1) | ((by & 4) << 2) | ((by & 8) << 3) AS zcode,
    bx
  FROM coded
),
zfiles AS (
  SELECT CAST(zcode >> 4 AS BIGINT) AS file_id,
    CAST(count(*) AS BIGINT) AS n,
    CAST(max(l_partkey) - min(l_partkey) AS BIGINT) AS part_span,
    CAST(max(l_suppkey) - min(l_suppkey) AS BIGINT) AS supp_span
  FROM z GROUP BY 1
),
lfiles AS (
  SELECT bx AS file_id,
    CAST(count(*) AS BIGINT) AS n,
    CAST(max(l_partkey) - min(l_partkey) AS BIGINT) AS part_span,
    CAST(max(l_suppkey) - min(l_suppkey) AS BIGINT) AS supp_span
  FROM z GROUP BY 1
)
SELECT 'linear' AS scheme, * FROM lfiles
UNION ALL
SELECT 'zorder' AS scheme, * FROM zfiles
ORDER BY scheme, file_id
""",
    tags=("A5", "F1", "H3"),
)
def etl_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-interleaved) clustering for multi-dimensional
    data skipping: bucket l_partkey and l_suppkey into 16 ranks each,
    interleave their bits into an 8-bit z-code, write the table
    partitioned into 16 z-files, and report each file's min-max
    envelope (zone map) on BOTH keys — against the linear-sort layout
    that clusters only the leading key.

    The measurable claim (visible in the output): z-files bound both
    part_span and supp_span to ~1/4 of the key range, while linear
    files bound part_span tightly and leave supp_span at the FULL
    range — i.e. a suppkey predicate skips nothing under linear sort
    and ~3/4 of files under Z-order. Envelopes are computed from the
    RE-READ of the physically written files, so the layout claim is
    about real parquet, not a hypothetical. Bucket ranks use global
    min/max (one tiny broadcast agg); bit math is integer-exact on
    both engines.
    """
    path = scratch("zorder", sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bounds = F.broadcast(
        li.agg(
            F.min("l_partkey").alias("p0"),
            F.max("l_partkey").alias("p1"),
            F.min("l_suppkey").alias("s0"),
            F.max("l_suppkey").alias("s1"),
        )
    )
    coded = li.crossJoin(bounds).select(
        "l_partkey",
        "l_suppkey",
        F.floor((F.col("l_partkey") - F.col("p0")) * 16.0 / (F.col("p1") - F.col("p0") + 1))
        .cast("long")
        .alias("bx"),
        F.floor((F.col("l_suppkey") - F.col("s0")) * 16.0 / (F.col("s1") - F.col("s0") + 1))
        .cast("long")
        .alias("by"),
    )
    bx, by = F.col("bx"), F.col("by")
    zcode = (
        F.shiftleft(bx.bitwiseAND(1), 1)
        .bitwiseOR(F.shiftleft(bx.bitwiseAND(2), 2))
        .bitwiseOR(F.shiftleft(bx.bitwiseAND(4), 3))
        .bitwiseOR(F.shiftleft(bx.bitwiseAND(8), 4))
        .bitwiseOR(by.bitwiseAND(1))
        .bitwiseOR(F.shiftleft(by.bitwiseAND(2), 1))
        .bitwiseOR(F.shiftleft(by.bitwiseAND(4), 2))
        .bitwiseOR(F.shiftleft(by.bitwiseAND(8), 3))
    )
    z = coded.select(
        "l_partkey", "l_suppkey", "bx", F.shiftright(zcode, 4).alias("file_id")
    )
    z.write.mode("overwrite").partitionBy("file_id").parquet(path)
    # explicit schema: an empty input writes no files (inference fails)
    back = spark.read.schema(z.schema).parquet(path)

    def envelopes(df: DataFrame, scheme: str, key: str) -> DataFrame:
        return df.groupBy(F.col(key).cast("long").alias("file_id")).agg(
            F.count("*").alias("n"),
            (F.max("l_partkey") - F.min("l_partkey")).alias("part_span"),
            (F.max("l_suppkey") - F.min("l_suppkey")).alias("supp_span"),
        ).select(F.lit(scheme).alias("scheme"), "file_id", "n", "part_span", "supp_span")

    lfiles = envelopes(z, "linear", "bx")
    zfiles = envelopes(back, "zorder", "file_id")
    return lfiles.unionByName(zfiles).orderBy("scheme", "file_id")


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
