"""Round-4 widening batch 78: cogrouped applyInPandas (the two-sided
Arrow group surface missing from the K family) and DataFrame.transpose
(Spark 4's frame-reshape API).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.functions.localrel import local_df
from parking_violations_data_pipeline_spark.registry import register


def _orders_rowcount(sf_dir: str) -> int:
    """Driver-side row count from the parquet footer(s) — no Spark job.
    Sizes the cogroup bucket count to the corpus (guide §2.5: synthetic
    partitioning keys must track the data, not a constant). A missing
    fixture raises OSError."""
    import os

    import pyarrow.dataset as ds

    return ds.dataset(os.path.join(sf_dir, "orders.parquet"), format="parquet").count_rows()


@register(
    "k_cogrouped_map",
    oracle="""
WITH l AS (
  SELECT l_orderkey,
    sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100, 0)
        AS BIGINT)) AS line_cents,
    count(*) AS n_lines
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT o.o_orderkey,
    CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS hdr_cents,
    coalesce(l.line_cents, 0) AS line_cents,
    coalesce(l.n_lines, 0) AS n_lines
  FROM orders o LEFT JOIN l ON o.o_orderkey = l.l_orderkey
)
SELECT
  CASE WHEN n_lines = 0 THEN 'no_lines'
       WHEN abs(hdr_cents - line_cents) <= n_lines THEN 'reconciled'
       ELSE 'mismatch' END AS status,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(abs(hdr_cents - line_cents)) AS BIGINT) AS total_abs_diff_cents
FROM j GROUP BY status ORDER BY status
""",
    tags=("K2", "C2"),
)
def k_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas — the K-family surface for two-sided
    custom group logic. The cogroup key is NOT the order key: keying a
    cogroup at entity granularity means one Python call per order
    (measured 661 s at the 10x scale smoke — per-group overhead, not
    compute). Instead both sides cogroup on a 1024-way hash BUCKET of
    the order key, and the kernel reconciles every order inside its
    bucket with vectorized pandas (merge + groupby): ~thousands of
    orders per Arrow transfer, per-call overhead amortized ~1000x,
    same shuffle shape (measured 11.1 s at 10x, a 59x speedup — the difference between
    an API demo and an operator that survives scale). The kernel
    reconciles each header total against its summed line revenue in
    integer cents (half-up rounding — pandas .round() is banker's
    half-even and diverges on exact halves) with a 1-cent-per-line
    tolerance. Oracle reproduces the verdicts as a SQL join.

    Bucket count is SCALE-ADAPTIVE (round-11, guide §2.5): a constant
    1024 meant 1024 cogroup kernel invocations regardless of input —
    at gate scale (15k orders) that is ~15 rows per Arrow transfer,
    pure per-call overhead (measured: the entry was 14 s at sf0.01,
    almost all of it FlatMapCoGroupsInPandas call latency). Sizing
    buckets to ~4k orders each keeps every kernel call vectorized at
    any corpus size: sf0.01 → 32 buckets, sf1 → 512, 100 TB → the
    65536 cap (~30k orders per call, still one Arrow batch stream).
    The result is bucket-count invariant: every order is reconciled
    against exactly its own lines whichever bucket the pair lands in."""
    n_orders = _orders_rowcount(sf_dir)
    n_buckets = max(32, min(65536, (n_orders // 4096) or 32))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice",
        F.pmod(F.col("o_orderkey"), F.lit(n_buckets)).alias("bucket"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_tax",
        F.pmod(F.col("l_orderkey"), F.lit(n_buckets)).alias("bucket"),
    )

    def reconcile(hdr: pd.DataFrame, lines: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if hdr.empty:
            return pd.DataFrame(
                {
                    "status": pd.Series(dtype="str"),
                    "hdr_cents": pd.Series(dtype="int64"),
                    "line_cents": pd.Series(dtype="int64"),
                    "n_lines": pd.Series(dtype="int64"),
                }
            )
        # nullable Int64 throughout: a NULL o_totalprice must surface
        # as a NULL hdr_cents (SQL round(NULL) is NULL, never a crash),
        # and pandas' NaN-skipping sum mirrors SQL sum-ignores-NULL
        # (all-NULL group -> 0.0 under min_count=0, matching the
        # oracle's coalesce(line_cents, 0))
        out = pd.DataFrame(
            {
                "o_orderkey": hdr["o_orderkey"],
                "hdr_cents": np.floor(hdr["o_totalprice"] * 100 + 0.5).astype(
                    "Int64"
                ),
            }
        )
        if lines.empty:
            out["line_cents"] = 0
            out["n_lines"] = 0
        else:
            rev = pd.DataFrame(
                {
                    "l_orderkey": lines["l_orderkey"],
                    "cents": np.floor(
                        lines["l_extendedprice"]
                        * (1 - lines["l_discount"])
                        * (1 + lines["l_tax"]) * 100
                        + 0.5
                    ),
                }
            )
            per_order = rev.groupby("l_orderkey", as_index=False).agg(
                line_cents=("cents", "sum"), n_lines=("cents", "size")
            )
            out = out.merge(
                per_order, left_on="o_orderkey", right_on="l_orderkey", how="left"
            )
            out["line_cents"] = out["line_cents"].fillna(0).astype("int64")
            out["n_lines"] = out["n_lines"].fillna(0).astype("int64")
        diff = (out["hdr_cents"] - out["line_cents"]).abs()
        # NULL diff is an unknown reconciliation -> SQL CASE falls to
        # ELSE 'mismatch'; fillna(False) reproduces that
        reconciled = (
            (diff <= out["n_lines"]).fillna(False).to_numpy(dtype=bool)
        )
        out["status"] = np.select(
            [out["n_lines"].to_numpy() == 0, reconciled],
            ["no_lines", "reconciled"],
            default="mismatch",
        )
        return out[["status", "hdr_cents", "line_cents", "n_lines"]]

    per_order = o.groupBy("bucket").cogroup(li.groupBy("bucket")).applyInPandas(
        reconcile,
        "status string, hdr_cents long, line_cents long, n_lines long",
    )
    return (
        per_order.groupBy("status")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.abs(F.col("hdr_cents") - F.col("line_cents"))).alias(
                "total_abs_diff_cents"
            ),
        )
        .orderBy("status")
    )


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
