"""Round-8 widening batch 120: Avro closed as a format gap — a pure-
Python Avro Object Container File encoder/decoder (stdlib struct +
zigzag varints + zlib raw-deflate) behind the Python DataSource API,
since the container ships no spark-avro jar (JVM ``to_avro`` raises
AVRO_NOT_LOADED; SURVEY §16). The roundtrip entry proves LOSSLESS
transport for every type crossed: string, long, nullable long (the
[null, T] union), boolean, IEEE double, and bytes — plus the two-phase
manifest commit.
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
    "a_avro_roundtrip",
    oracle="""
SELECT o_orderpriority AS priority,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(coalesce(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)), 0)
    AS BIGINT) AS cents,
  -- NULL orderkeys take the when()'s otherwise branch on the engine
  -- side (NULL % 7 = 0 is NULL, not true), so the oracle's null set
  -- is (key IS NULL OR key % 7 = 0) — mirrored exactly
  CAST(sum(CASE WHEN o_orderkey IS NULL OR o_orderkey % 7 = 0
                THEN 0 ELSE o_orderkey END) AS BIGINT) AS sum_okey,
  CAST(count(CASE WHEN o_orderkey IS NULL OR o_orderkey % 7 = 0
                  THEN NULL ELSE 1 END) AS BIGINT) AS n_okey,
  CAST(sum(CASE WHEN CAST(round(o_totalprice * 100, 0) AS BIGINT) >= 10000000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
  CAST(count(*) AS BIGINT) AS n_bytes_ok,
  CAST(count(*) AS BIGINT) AS n_dbl_ok,
  TRUE AS manifest_ok
FROM orders GROUP BY o_orderpriority ORDER BY priority
""",
    tags=("A2", "A5"),
)
def a_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro round-trip through the pure-Python ``avro_py`` datasource
    (sources/avro_py.py): an orders slice — string, exact-cents long,
    a nullable long (NULL for every 7th orderkey, exercising the
    [null, long] union branch bytes), a boolean, the RAW IEEE double
    price, and a bytes column carrying reverse(priority) utf-8 — is
    written as deflate-compressed Avro container shards (one per
    task, two-phase _MANIFEST commit) and re-read via the
    self-describing header (schema inferred from the first shard,
    exactly like parquet footer inference).

    Loss proofs, per type: cents/sum_okey/n_okey (long + union null
    count), n_big (boolean), cents re-derived FROM THE DOUBLE after
    re-read (IEEE bit-exactness: round(price*100) must re-produce the
    cents the oracle computes from parquet), n_bytes_ok counts rows
    whose bytes decode back to reverse(priority) — byte-content
    equality, not just length — and manifest_ok cross-checks the
    commit fold against the re-read row count.

    Scale shape: write parallelism = upstream task count (one OCF
    shard each, rows streamed through 64 Ki-row blocks — O(block)
    memory at any shard size); read parallelism = shard count, the
    same contract as a file source. The Python row codec is the cost
    of jar-less Avro; at 100 TB you'd mount the spark-avro jar and
    keep this as the verification twin.
    """
    from parking_violations_data_pipeline_spark.sources.avro_py import (
        AvroDataSource,
    )
    from parking_violations_data_pipeline_spark.sources.pyds import (
        ensure_active_session,
        register_python_datasource,
        save_python_datasource,
    )

    register_python_datasource(spark, AvroDataSource)
    path = scratch("avro_roundtrip")

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_orderkey"))
        .cast("long")
        .alias("okey_null"),
        (F.round(F.col("o_totalprice") * 100, 0).cast("long") >= 10_000_000)
        .alias("big"),
        F.col("o_totalprice").cast("double").alias("price_d"),
        F.encode(F.reverse(F.col("o_orderpriority")), "utf-8").alias(
            "tag_bytes"
        ),
    )
    save_python_datasource(o, "avro_py", mode="append", path=path)

    with open(os.path.join(path, "_MANIFEST.json")) as fh:
        man = json.load(fh)

    ensure_active_session(spark)
    back = spark.read.format("avro_py").option("path", path).load()
    n_back = back.count()
    manifest_ok = bool(man["n_rows"] == n_back)

    return (
        back.groupBy("priority")
        .agg(
            F.count("*").alias("n_rows"),
            # NULL-mirrored with the oracle's coalesce(sum(...), 0):
            # the allnull fixture turns every input NULL, and a NULL
            # sum would surface as pandas float64 vs the oracle's
            # int64 (the driver hasher is type-sensitive)
            F.coalesce(F.sum("cents"), F.lit(0)).alias("cents"),
            F.sum(F.coalesce(F.col("okey_null"), F.lit(0))).alias("sum_okey"),
            F.count("okey_null").alias("n_okey"),
            F.sum(F.coalesce(F.col("big").cast("long"), F.lit(0))).alias(
                "n_big"
            ),
            # byte-content equality; a NULL priority must roundtrip to
            # a NULL bytes cell (union branch 0), which counts as OK —
            # the oracle expects the FULL group count either way
            F.sum(
                F.coalesce(
                    F.decode(F.col("tag_bytes"), "utf-8")
                    == F.reverse(F.col("priority")),
                    F.col("priority").isNull() & F.col("tag_bytes").isNull(),
                ).cast("long")
            ).alias("n_bytes_ok"),
            # IEEE-double bit-exactness: cents re-derived from the
            # transported double must equal the transported long on
            # EVERY row; NULL price must roundtrip to NULL cents
            F.sum(
                F.coalesce(
                    F.round(F.col("price_d") * 100, 0).cast("long")
                    == F.col("cents"),
                    F.col("price_d").isNull() & F.col("cents").isNull(),
                ).cast("long")
            ).alias("n_dbl_ok"),
        )
        .withColumn("manifest_ok", F.lit(manifest_ok))
        .orderBy("priority")
    )
