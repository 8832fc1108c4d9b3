"""Round-4 widening batch 97: corrupt-file resilience on the scan path
(ignoreCorruptFiles) and rounding-mode semantics (half-up round vs
banker's bround) pinned cross-engine.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.registry import register


@register(
    "a_corrupt_file_skip",
    oracle="""
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM orders WHERE o_orderkey < 4000
""",
    tags=("A1", "B5"),
)
def a_corrupt_file_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level corruption resilience: a directory holding two good
    parquet files AND one garbage file (random bytes with a .parquet
    name — a truncated upload, the thing that happens weekly at 100 TB)
    is scanned with ignoreCorruptFiles=true; the read must return
    exactly the good files' rows instead of failing the whole job.
    This is the FILE-granular sibling of etl_bad_record_quarantine's
    ROW-granular PERMISSIVE mode. The honesty check: without the
    option the same read raises — asserted in-plan before returning."""
    path = scratch("corrupt_skip")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 4000)
    o.select("o_orderkey", "o_totalprice").repartition(2).write.mode(
        "overwrite"
    ).parquet(path)
    with open(os.path.join(path, "part-junk.parquet"), "wb") as f:
        f.write(b"PAR1 this is not a real parquet file \x00\x01\x02" * 64)
    # the corrupt file must actually be fatal without the option
    strict_failed = False
    try:
        spark.read.parquet(path).count()
    except Exception:
        strict_failed = True
    assert strict_failed, "junk file unexpectedly readable — test is vacuous"
    back = (
        spark.read.option("ignoreCorruptFiles", "true").parquet(path)
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"),
    )


@register(
    "h_rounding_modes",
    oracle="""
WITH v AS (
  SELECT o_orderkey,
    CAST(round(o_totalprice * 10, 0) AS BIGINT) AS half_up_deci,
    CAST(round_even(o_totalprice * 10, 0) AS BIGINT) AS banker_deci
  FROM orders WHERE o_orderkey < 4000
)
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(half_up_deci) AS BIGINT) AS sum_half_up,
  CAST(sum(banker_deci) AS BIGINT) AS sum_banker,
  CAST(count(*) FILTER (WHERE half_up_deci <> banker_deci) AS BIGINT)
    AS n_mode_disagreements
FROM v
""",
    tags=("H3",),
)
def h_rounding_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rounding-mode semantics pinned: HALF_UP (Spark round ↔ oracle
    round) vs HALF_EVEN banker's rounding (Spark bround ↔ oracle
    round_even) over deci-dollar amounts — prices ending in exact .X5
    are where money pipelines silently drift by a cent depending on
    which mode a stage used. The disagreement count is part of the
    output: the two modes MUST differ on some rows (otherwise the
    fixture has no half-way cases and the pin is vacuous) — and each
    mode must agree exactly with its cross-engine counterpart."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select(
            F.round(F.col("o_totalprice") * 10, 0).cast("long").alias(
                "half_up_deci"
            ),
            F.bround(F.col("o_totalprice") * 10, 0).cast("long").alias(
                "banker_deci"
            ),
        )
    )
    return o.agg(
        F.count("*").alias("n_rows"),
        F.sum("half_up_deci").alias("sum_half_up"),
        F.sum("banker_deci").alias("sum_banker"),
        F.count(
            F.when(F.col("half_up_deci") != F.col("banker_deci"), 1)
        ).alias("n_mode_disagreements"),
    )
