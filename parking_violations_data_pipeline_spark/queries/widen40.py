"""Round-3 widening batch 41: record linkage (blocked candidate
generation + field-agreement scoring + measured accuracy against
known truth) and the CSV malformed-row mode matrix
(PERMISSIVE / DROPMALFORMED / FAILFAST).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.functions.localrel import local_df
from parking_violations_data_pipeline_spark.registry import register


@register(
    "h_record_linkage",
    oracle="""
WITH master AS (
  SELECT c_custkey, lower(c_name) AS name_norm, c_nationkey,
    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
  FROM customer
),
dirty AS (
  SELECT c_custkey AS true_key,
    CASE WHEN c_custkey % 5 = 0
         THEN replace(lower(c_name), 'customer', 'cstmr')
         ELSE lower(c_name) END AS name_norm,
    c_nationkey,
    CAST(round(c_acctbal * 100, 0) AS BIGINT) + c_custkey % 7 - 3 AS cents
  FROM customer
),
cand AS (
  SELECT d.true_key, m.c_custkey AS cand_key,
    (CASE WHEN d.name_norm = m.name_norm THEN 40 ELSE 0 END
     + CASE WHEN abs(d.cents - m.cents) <= 3 THEN 30 ELSE 0 END
     + 10) AS score
  FROM dirty d JOIN master m
    ON d.c_nationkey = m.c_nationkey
   AND d.cents // 1000 = m.cents // 1000
),
best AS (
  SELECT true_key, cand_key, score,
    row_number() OVER (PARTITION BY true_key ORDER BY score DESC, cand_key) AS rn
  FROM cand WHERE score >= 50
)
SELECT
  CAST((SELECT count(*) FROM dirty) AS BIGINT) AS n_dirty,
  CAST(count(*) AS BIGINT) AS n_linked,
  CAST(sum(CASE WHEN true_key = cand_key THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
  CAST(sum(CASE WHEN true_key <> cand_key THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong
FROM best WHERE rn = 1
""",
    tags=("H1", "C1", "H4"),
)
def h_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage (MDM / entity resolution): a deterministically
    dirtied customer feed (every 5th name corrupted, account balance
    jittered ±3 cents) links back to the master via BLOCKING
    (nation × $10 balance band — candidate pairs are linear, never
    customer²) and Fellegi-Sunter-style field-agreement scores
    (name 40, balance-within-3 30, block 10; accept ≥50, best score
    wins with a key tie-break). Because ground truth is known, the
    report MEASURES link accuracy (n_correct / n_wrong) — the
    precision audit every linkage deployment needs. Jitter crossing
    a band edge loses the candidate identically on both engines
    (blocking recall is part of what's being measured).
    """
    c = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    master = c.select(
        "c_custkey",
        F.lower("c_name").alias("name_norm"),
        "c_nationkey",
        cents.alias("cents"),
    )
    dirty = c.select(
        F.col("c_custkey").alias("true_key"),
        F.when(
            F.col("c_custkey") % 5 == 0,
            F.replace(F.lower("c_name"), F.lit("customer"), F.lit("cstmr")),
        )
        .otherwise(F.lower("c_name"))
        .alias("d_name"),
        F.col("c_nationkey").alias("d_nat"),
        (cents + F.col("c_custkey") % 7 - 3).alias("d_cents"),
    )
    cand = dirty.join(
        master,
        (F.col("d_nat") == master.c_nationkey)
        & (F.expr("d_cents div 1000") == F.expr("cents div 1000")),
    ).select(
        "true_key",
        F.col("c_custkey").alias("cand_key"),
        (
            F.when(F.col("d_name") == master.name_norm, 40).otherwise(0)
            + F.when(F.abs(F.col("d_cents") - F.col("cents")) <= 3, 30).otherwise(0)
            + F.lit(10)
        ).alias("score"),
    )
    w = Window.partitionBy("true_key").orderBy(F.desc("score"), "cand_key")
    best = (
        cand.filter(F.col("score") >= 50)
        .select("true_key", "cand_key", "score", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
    )
    n_dirty = dirty.agg(F.count("*").alias("nd"))
    return (
        best.agg(
            F.count("*").alias("n_linked"),
            F.sum(F.when(F.col("true_key") == F.col("cand_key"), 1).otherwise(0)).alias(
                "n_correct"
            ),
            F.sum(F.when(F.col("true_key") != F.col("cand_key"), 1).otherwise(0)).alias(
                "n_wrong"
            ),
        )
        .crossJoin(F.broadcast(n_dirty))
        .select(
            F.col("nd").alias("n_dirty"), "n_linked", "n_correct", "n_wrong"
        )
    )


@register(
    "a_csv_parse_modes",
    oracle="""
WITH expected(mode, n_rows, n_bad, failed) AS (
  VALUES
    ('DROPMALFORMED', CAST(80 AS BIGINT), CAST(0 AS BIGINT), FALSE),
    ('FAILFAST',      CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), TRUE),
    ('PERMISSIVE',    CAST(100 AS BIGINT), CAST(20 AS BIGINT), FALSE)
)
SELECT mode, n_rows, n_bad, failed FROM expected ORDER BY mode
""",
    tags=("A2", "B2", "L"),
)
def a_csv_parse_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CSV malformed-row contract, all three modes MEASURED
    against one corrupt file (100 rows, every 5th with a non-numeric
    amount): PERMISSIVE keeps every row and null-marks the 20 bad
    ones via columnNameOfCorruptRecord, DROPMALFORMED keeps the 80
    clean rows, FAILFAST raises on first corruption (caught and
    reported as failed=TRUE) — the ingestion-policy matrix every
    loader decision needs. The oracle pins the exact expected
    counts; the corruption pattern is deterministic so they are
    reproducible, not fixtures of luck.
    """
    path = scratch("csv_modes")
    os.makedirs(path, exist_ok=True)
    lines = ["id,amount"]
    for i in range(100):
        amount = "oops" if i % 5 == 0 else str(i * 10)
        lines.append(f"{i},{amount}")
    with open(os.path.join(path, "data.csv"), "w") as fh:
        fh.write("\n".join(lines) + "\n")

    schema_perm = "id int, amount int, _bad string"
    perm = (
        spark.read.schema(schema_perm)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(path)
        .cache()  # Spark refuses corrupt-column-only filters on a raw scan
    )
    perm_rows = perm.count()
    perm_bad = perm.filter(F.col("_bad").isNotNull()).count()
    perm.unpersist()

    drop = (
        spark.read.schema("id int, amount int")
        .option("header", "true")
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )
    # count() prunes every column and parses nothing, so no row is
    # ever judged malformed (measured: 100, not 80) — materialize the
    # full rows to make the mode actually engage
    drop_rows = len(drop.collect())

    try:
        # count() alone can prune away the malformed column and never
        # parse it — force a full-row parse to trigger FAILFAST
        (
            spark.read.schema("id int, amount int")
            .option("header", "true")
            .option("mode", "FAILFAST")
            .csv(path)
            .selectExpr("sum(amount)")
            .collect()
        )
        ff_failed = False
    except Exception:
        ff_failed = True

    rows = [
        ("DROPMALFORMED", drop_rows, 0, False),
        ("FAILFAST", -1, -1, ff_failed),
        ("PERMISSIVE", perm_rows, perm_bad, False),
    ]
    return local_df(
        spark, rows, "mode string, n_rows long, n_bad long, failed boolean"
    ).orderBy("mode")
