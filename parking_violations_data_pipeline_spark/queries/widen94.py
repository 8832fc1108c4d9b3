"""Round-4 widening batch 94: manifest-based time travel (read an
older table version by its committed file list — the lakehouse
mechanism, built from primitives) and lateral column aliases.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.registry import register


@register(
    "a_time_travel_versions",
    oracle="""
WITH v1 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
v2 AS (SELECT * FROM orders WHERE o_orderkey % 3 <= 1)
SELECT 'v1' AS version, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM v1
UNION ALL
SELECT 'v2', CAST(count(*) AS BIGINT),
  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
FROM v2
ORDER BY version
""",
    tags=("A1", "A5", "L"),
)
def a_time_travel_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel from first principles — the mechanism under every
    lakehouse table format: each commit writes NEW data files plus a
    version manifest listing exactly the files that constitute that
    version; reading 'AS OF v1' means reading v1's manifest and
    loading ONLY its files, even though v2's files sit in the same
    directory. Here v1 commits one file set, v2 adds a second batch
    and a superset manifest; both versions are then read back through
    their manifests concurrently — no copy, no delete, snapshot
    isolation by construction. The oracle recomputes both versions
    from the source predicate."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = scratch("time_travel")
    data = os.path.join(root, "data")
    # commit v1: files for orderkey % 3 == 0
    v1_dir = os.path.join(data, "batch_v1")
    o.filter(F.col("o_orderkey") % 3 == 0).write.mode("overwrite").parquet(v1_dir)
    v1_files = sorted(
        os.path.join(v1_dir, f) for f in os.listdir(v1_dir) if f.endswith(".parquet")
    )
    os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
    with open(os.path.join(root, "_manifests", "v1.json"), "w") as f:
        json.dump({"version": 1, "files": v1_files}, f)
    # commit v2: ADDS files for orderkey % 3 == 1 (v1 files untouched)
    v2_dir = os.path.join(data, "batch_v2")
    o.filter(F.col("o_orderkey") % 3 == 1).write.mode("overwrite").parquet(v2_dir)
    v2_files = v1_files + sorted(
        os.path.join(v2_dir, f) for f in os.listdir(v2_dir) if f.endswith(".parquet")
    )
    with open(os.path.join(root, "_manifests", "v2.json"), "w") as f:
        json.dump({"version": 2, "files": v2_files}, f)

    def read_version(v: str) -> DataFrame:
        with open(os.path.join(root, "_manifests", f"{v}.json")) as f:
            manifest = json.load(f)
        return spark.read.parquet(*manifest["files"])

    out = []
    for v in ("v1", "v2"):
        out.append(
            read_version(v).agg(
                F.lit(v).alias("version"),
                F.count("*").alias("n_rows"),
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                    "cents"
                ),
            )
        )
    return out[0].unionAll(out[1]).orderBy("version")


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
