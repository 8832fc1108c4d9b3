"""B-family entries: projection, filtering and reshape. Transposes,
lateral column aliases, three-valued logic, partition hints and cached
frame reuse.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.functions.localrel import local_df
from parking_violations_data_pipeline_spark.registry import register


@register(
    "b_transpose_frame",
    oracle="""
WITH s AS (
  SELECT o_orderpriority AS pri,
    CAST(count(*) AS BIGINT) AS n_orders,
    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      AS total_cents
  FROM orders GROUP BY pri
)
SELECT 'n_orders' AS metric,
  max(CASE WHEN pri = '1-URGENT' THEN n_orders END) AS "1-URGENT",
  max(CASE WHEN pri = '2-HIGH' THEN n_orders END) AS "2-HIGH",
  max(CASE WHEN pri = '3-MEDIUM' THEN n_orders END) AS "3-MEDIUM",
  max(CASE WHEN pri = '4-NOT SPECIFIED' THEN n_orders END) AS "4-NOT SPECIFIED",
  max(CASE WHEN pri = '5-LOW' THEN n_orders END) AS "5-LOW"
FROM s
UNION ALL
SELECT 'total_cents',
  max(CASE WHEN pri = '1-URGENT' THEN total_cents END),
  max(CASE WHEN pri = '2-HIGH' THEN total_cents END),
  max(CASE WHEN pri = '3-MEDIUM' THEN total_cents END),
  max(CASE WHEN pri = '4-NOT SPECIFIED' THEN total_cents END),
  max(CASE WHEN pri = '5-LOW' THEN total_cents END)
FROM s
ORDER BY metric
""",
    tags=("B1", "D4"),
)
def b_transpose_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (Spark 4 reshape API): the per-priority
    stats frame flipped so metrics become rows and the five priority
    classes become columns — the orientation a report wants. The
    transpose itself is driver-cheap (the frame is |groups| rows, a
    handful after aggregation at any corpus scale); the heavy lifting
    stayed in the distributed aggregate that produced it. Oracle
    reproduces the reshape as a conditional-aggregation pivot."""
    o = load_table(spark, sf_dir, "orders")
    s = o.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "total_cents"
        ),
    )
    t = s.transpose(F.col("pri")).withColumnRenamed("key", "metric")
    # transpose only emits columns for OBSERVED priorities and rows for
    # a non-empty frame; pad to the full 5-class shape over a constant
    # metric spine so the reshape matches the oracle's fixed pivot on
    # any input (missing class → NULL column, empty input → NULL rows)
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    have = set(t.columns)
    spine = local_df(
        spark, [("n_orders",), ("total_cents",)], "metric string"
    )
    padded = spine.join(F.broadcast(t), "metric", "left")
    return padded.select(
        "metric",
        *[
            (F.col(f"`{p}`") if p in have else F.lit(None).cast("bigint")).alias(p)
            for p in pris
        ],
    ).orderBy("metric")


@register(
    "b_cached_reuse",
    oracle="""
WITH base AS (
  SELECT c.c_nationkey AS nk,
    count(*) AS n_orders,
    sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY nk
)
SELECT
  CAST((SELECT count(*) FROM base) AS BIGINT) AS n_nations,
  CAST((SELECT max(cents) FROM base) AS BIGINT) AS top_nation_cents,
  CAST((SELECT sum(n_orders) FROM base) AS BIGINT) AS total_orders,
  CAST((SELECT sum(cents) FROM base) AS BIGINT) AS total_cents
""",
    tags=("B1", "D1"),
)
def b_cached_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cache() reuse: the per-nation rollup is materialized
    once (storage-level MEMORY_AND_DISK) and TWO derived aggregates
    read the cached frame instead of re-running the join — the
    dashboard pattern where one conformed rollup feeds many tiles.
    Without the cache each derived query re-scans orders+customer; a
    plan test pins InMemoryTableScan to prove the reuse is physical,
    not aspirational. unpersist() runs before returning so the gate's
    memory footprint is transient."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "cents"
            ),
        )
        .cache()
    )
    shape = base.agg(
        F.count("*").alias("n_nations"), F.max("cents").alias("top_nation_cents")
    )
    totals = base.agg(
        F.sum("n_orders").alias("total_orders"), F.sum("cents").alias("total_cents")
    )
    out = shape.crossJoin(totals)
    result = out.collect()  # force both reads through the cache
    base.unpersist()
    return local_df(
        spark,
        result,
        "n_nations long, top_nation_cents long, total_orders long, total_cents long",
    )


@register(
    "b_lateral_alias",
    oracle="""
SELECT o_orderkey,
  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
  CAST(round(o_totalprice * 100, 0) AS BIGINT) // 100000 AS bucket,
  (CAST(round(o_totalprice * 100, 0) AS BIGINT) // 100000) * 2 AS bucket2
FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey
""",
    tags=("B1", "B6"),
)
def b_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases — referencing a select-list alias from a
    LATER item in the same SELECT (cents → bucket → bucket2), the
    Spark 4 SQL ergonomics feature that kills the nested-subquery
    boilerplate. The oracle's engine has no lateral aliases, so it
    re-expands each reference — proving the sugar changes nothing
    semantically."""
    pid = os.getpid()
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView(f"orders_lca_{pid}")
    return spark.sql(
        f"""
        SELECT o_orderkey,
          CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
          cents div 100000 AS bucket,
          bucket * 2 AS bucket2
        FROM orders_lca_{pid} WHERE o_orderkey < 200 ORDER BY o_orderkey
        """
    )


@register(
    "b_partition_hints",
    oracle="""
SELECT o_orderpriority AS pri,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM orders GROUP BY pri ORDER BY pri
""",
    tags=("B1", "D1"),
)
def b_partition_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioning hints in SQL text — /*+ REPARTITION(n, col) */
    forces a hash exchange on the named column before the aggregate
    (the pre-shuffle a pipeline author injects when the next stage
    needs co-location the optimizer can't see, e.g. a downstream
    partitioned write), and results must be IDENTICAL to the unhinted
    form — hints steer layout, never semantics, which is exactly what
    the oracle checks. The repartition count also pins the output
    file count when this frame is written (the small-files control).
    Plan shape (asserted in tests): RoundRobin/hash Exchange injected
    by hint, aggregate unchanged."""
    pid = os.getpid()
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView(f"orders_hint_{pid}")
    return spark.sql(
        f"""
        SELECT /*+ REPARTITION(8, o_orderpriority) */
          o_orderpriority AS pri,
          count(*) AS n,
          sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        FROM orders_hint_{pid}
        GROUP BY pri ORDER BY pri
        """
    )


@register(
    "b_three_valued_logic",
    oracle="""
WITH vals(i, v) AS (VALUES (0, TRUE), (1, FALSE), (2, NULL)),
grid AS (
  SELECT a.i AS ai, b.i AS bi, a.v AS x, b.v AS y
  FROM vals a CROSS JOIN vals b
)
SELECT ai, bi,
  coalesce(CAST(x AND y AS VARCHAR), 'NULL') AS and_r,
  coalesce(CAST(x OR y AS VARCHAR), 'NULL') AS or_r,
  coalesce(CAST(NOT x AS VARCHAR), 'NULL') AS not_x,
  CAST(x IS NOT DISTINCT FROM y AS VARCHAR) AS nullsafe_eq
FROM grid ORDER BY ai, bi
""",
    tags=("B5", "B6"),
)
def b_three_valued_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL three-valued-logic truth table, pinned cell by cell:
    AND/OR/NOT over every pair from {TRUE, FALSE, NULL}, plus the
    null-safe equality that collapses 3VL back to 2VL. This is the
    semantics every filter in the engine stands on (NULL AND FALSE =
    FALSE but NULL AND TRUE = NULL — the asymmetry that silently
    drops rows when a predicate meets a null); pinning the full grid
    against the oracle guarantees both engines agree on all nine
    cells. Results serialize NULL as the string 'NULL' so the
    comparator sees values, not missing cells."""
    # local_df (round-11): the pyrdd form of this 3-row frame made the
    # 3x3 crossJoin a 32x32-task CartesianProduct — 38 s of scheduling
    # for 9 rows; Arrow-backed single-partition frame -> one task
    vals = local_df(
        spark, [(0, True), (1, False), (2, None)], "i int, v boolean"
    )
    a = vals.select(F.col("i").alias("ai"), F.col("v").alias("x"))
    b = vals.select(F.col("i").alias("bi"), F.col("v").alias("y"))
    grid = a.crossJoin(b)

    def show(c):
        return F.coalesce(c.cast("string"), F.lit("NULL"))

    return grid.select(
        "ai",
        "bi",
        show(F.col("x") & F.col("y")).alias("and_r"),
        show(F.col("x") | F.col("y")).alias("or_r"),
        show(~F.col("x")).alias("not_x"),
        F.col("x").eqNullSafe(F.col("y")).cast("string").alias("nullsafe_eq"),
    ).orderBy("ai", "bi")
