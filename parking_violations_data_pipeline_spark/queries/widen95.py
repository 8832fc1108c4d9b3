"""Round-4 widening batch 95: the native XML source/sink (Spark 4
built-in — no external package) and the XML expression family
(to_xml / from_xml / xpath).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.registry import register


@register(
    "a_xml_roundtrip",
    oracle="""
SELECT o_orderpriority AS pri,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM orders WHERE o_orderkey < 2000
GROUP BY pri ORDER BY pri
""",
    tags=("A2", "A5"),
)
def a_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML source/sink (built into Spark 4 — the format that
    used to need spark-xml): a slice of orders is written as XML
    documents (rowTag=order) and read back with an explicit schema;
    the round-tripped aggregate must equal the source. XML is how
    B2B/EDI feeds still arrive — the ingest path matters even when
    the lake is parquet. Write is distributed (one XML file per
    partition); the reader splits per rowTag."""
    path = scratch("xml_roundtrip")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )
    o.write.format("xml").option("rowTag", "order").mode("overwrite").save(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("o_orderkey long, o_orderpriority string, o_totalprice double")
        .load(path)
    )
    return (
        back.groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "cents"
            ),
        )
        .orderBy("pri")
    )


@register(
    "h_xml_expr",
    oracle="""
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  TRUE AS struct_roundtrip_ok,
  TRUE AS xpath_matches
FROM orders WHERE o_orderkey < 2000
""",
    tags=("H7",),
)
def h_xml_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML expression family: every order row is serialized with
    to_xml(struct(...)), parsed back with from_xml, and ALSO probed
    with xpath_long — both recoveries must equal the original key on
    every row, checked in-plan (the oracle's engine has no XML
    functions, so the proof is the boolean pair + exact row count).
    All three functions are JVM expressions inside codegen — the
    fast path for XML-in-string columns arriving from message
    queues."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderpriority")
    )
    xml = o.withColumn(
        "x",
        F.expr("to_xml(struct(o_orderkey, o_orderpriority))"),
    )
    checked = xml.select(
        "o_orderkey",
        F.expr(
            "from_xml(x, 'o_orderkey BIGINT, o_orderpriority STRING').o_orderkey"
        ).alias("rt_key"),
        F.expr("xpath_long(x, '/ROW/o_orderkey')").alias("xp_key"),
    )
    # every() over zero rows is NULL; an empty probe set passes
    # vacuously (the oracle pins literal TRUE)
    return checked.agg(
        F.count("*").alias("n_rows"),
        F.coalesce(
            F.every(F.col("rt_key") == F.col("o_orderkey")), F.lit(True)
        ).alias("struct_roundtrip_ok"),
        F.coalesce(
            F.every(F.col("xp_key") == F.col("o_orderkey")), F.lit(True)
        ).alias("xpath_matches"),
    )
