"""Reference-parity ETL composite queries (SURVEY.md §2 L, A2-A5).

Each entry chains plans/etl.py stages over the events fixture shaped
as violations and checks the END STATE against an oracle that
re-derives the same pipeline in SQL — the differential version of the
reference's "does the monthly publish look right".

Round-trip queries exercise real sinks+sources (A5→A2/A3): write to a
scratch dir under the repo, re-read, aggregate; the oracle aggregates
the original table directly, so a lossy write/read would fail the
value-hash.

The rest of the ETL family follows: table maintenance (log compaction,
retention, deletion vectors, orphan-file collection, z-order
clustering), change handling (late-arriving dimensions, incremental view
maintenance, medallion layers) and data-quality audits.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parking_violations_data_pipeline_spark.catalog import load_table, maybe_broadcast, scratch
from parking_violations_data_pipeline_spark.functions.localrel import local_df
from parking_violations_data_pipeline_spark.functions.timeutil import epoch_us
from parking_violations_data_pipeline_spark.plans import etl
from parking_violations_data_pipeline_spark.registry import register
from parking_violations_data_pipeline_spark.sources import readers, writers

_CLEAN_SQL = """
  SELECT event_id AS ticket_number, CAST(ts AS TIMESTAMP) AS issue_datetime,
         user_id AS plate_id, upper(trim(event_type)) AS violation_code,
         value AS fine, props AS meta
  FROM events WHERE event_id IS NOT NULL AND value > 0
"""


@register(
    "etl_clean_shape",
    oracle=f"""
SELECT violation_code, count(*) AS cnt, round(sum(fine), 2) AS total_fine,
  min(issue_datetime) AS first_seen, max(issue_datetime) AS last_seen
FROM ({_CLEAN_SQL})
GROUP BY violation_code ORDER BY violation_code
""",
    tags=("L", "B1", "B2", "B3"),
)
def etl_clean_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L: ingest-shape + validation stage (rename/retype/filter) with a
    per-code summary as the checkable end state."""
    v = etl.clean(etl.violations_shape(load_table(spark, sf_dir, "events")))
    return (
        v.groupBy("violation_code")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("fine"), 2).alias("total_fine"),
            F.min("issue_datetime").alias("first_seen"),
            F.max("issue_datetime").alias("last_seen"),
        )
        .orderBy("violation_code")
    )


@register(
    "etl_anonymize_persistent",
    oracle=f"""
WITH v AS ({_CLEAN_SQL}),
m1 AS (SELECT DISTINCT plate_id FROM v WHERE issue_datetime < TIMESTAMP '2024-01-15'),
k1 AS (SELECT plate_id, row_number() OVER (ORDER BY plate_id) AS anon_plate_id FROM m1),
newk AS (SELECT DISTINCT plate_id FROM v
         WHERE plate_id NOT IN (SELECT plate_id FROM m1)),
k2 AS (SELECT plate_id,
         (SELECT COALESCE(max(anon_plate_id), 0) FROM k1)
           + row_number() OVER (ORDER BY plate_id) AS anon_plate_id
       FROM newk),
kt AS (SELECT * FROM k1 UNION ALL SELECT * FROM k2)
SELECT kt.anon_plate_id, count(*) AS n_tickets, round(sum(v.fine), 2) AS total_fine
FROM v JOIN kt USING (plate_id)
GROUP BY kt.anon_plate_id ORDER BY kt.anon_plate_id
""",
    tags=("L", "H4", "C5", "G1"),
)
def etl_anonymize_persistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L: persistent surrogate keys across incremental loads — the key
    table is seeded from the first half-month, then the full month is
    anonymized against it; previously-seen plates keep their ids, new
    plates get max_id+seq. The oracle replays the same two-step
    assignment in SQL."""
    v = etl.clean(etl.violations_shape(load_table(spark, sf_dir, "events")))
    first_half = v.filter(F.col("issue_datetime") < F.lit("2024-01-15").cast("timestamp"))
    _, key_table = etl.anonymize(first_half, None)
    anon, _ = etl.anonymize(v, key_table)
    return (
        anon.groupBy("anon_plate_id")
        .agg(F.count("*").alias("n_tickets"), F.round(F.sum("fine"), 2).alias("total_fine"))
        .orderBy("anon_plate_id")
    )


@register(
    "etl_enrich",
    oracle=f"""
WITH v AS ({_CLEAN_SQL}),
lut(code, description) AS (VALUES ('CLICK', 'METER EXPIRED'), ('VIEW', 'OVER TIME LIMIT'),
                                  ('ERROR', 'DOUBLE PARKED')),
bins(division, lo, hi) AS (VALUES ('D1', 0.0, 25.0), ('D2', 25.0, 50.0),
                                  ('D3', 50.0, 75.0), ('D4', 75.0, 1e9))
SELECT b.division, COALESCE(l.description, v.violation_code) AS violation_desc,
  count(*) AS cnt, round(avg(v.fine), 6) AS avg_fine
FROM v LEFT JOIN lut l ON v.violation_code = l.code
LEFT JOIN bins b ON v.fine >= b.lo AND v.fine < b.hi
GROUP BY b.division, violation_desc ORDER BY b.division, violation_desc
""",
    tags=("L", "C2", "C3", "C7"),
)
def etl_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L: enrichment — broadcast code→description lookup (unmapped
    codes fall back to the raw code) + range-join 'geocoding' into
    divisions."""
    v = etl.clean(etl.violations_shape(load_table(spark, sf_dir, "events")))
    lut = local_df(
        spark,
        [("CLICK", "METER EXPIRED"), ("VIEW", "OVER TIME LIMIT"), ("ERROR", "DOUBLE PARKED")],
        "code string, description string",
    )
    bins = local_df(
        spark,
        [("D1", 0.0, 25.0), ("D2", 25.0, 50.0), ("D3", 50.0, 75.0), ("D4", 75.0, 1e9)],
        "division string, lo double, hi double",
    )
    enriched = etl.enrich_geo_bins(etl.enrich_codes(v, lut), bins)
    return (
        enriched.groupBy("division", "violation_desc")
        .agg(F.count("*").alias("cnt"), F.round(F.avg("fine"), 6).alias("avg_fine"))
        .orderBy("division", "violation_desc")
    )


@register(
    "etl_incremental_append",
    oracle=f"""
WITH v AS ({_CLEAN_SQL}),
existing AS (SELECT * FROM v WHERE issue_datetime < TIMESTAMP '2024-01-20'),
batch AS (SELECT ticket_number, issue_datetime, plate_id, violation_code,
                 fine * 2 AS fine, meta
          FROM v WHERE issue_datetime >= TIMESTAMP '2024-01-10'),
merged AS (
  -- keyed upsert semantics (ONE row per ticket, existing wins, ties
  -- inside a source break on the full payload) — identical to the
  -- engine's row_number survivor rule, robust to dirty dup-key feeds
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY ticket_number
        ORDER BY src, issue_datetime, plate_id, violation_code, fine, meta
      ) AS rn
    FROM (
      SELECT *, 0 AS src FROM existing
      UNION ALL
      SELECT *, 1 AS src FROM batch
    )
  ) WHERE rn = 1
)
SELECT count(*) AS n, count(DISTINCT ticket_number) AS n_keys,
  round(sum(fine), 2) AS total_fine
FROM merged
""",
    tags=("L", "G1", "G3"),
)
def etl_incremental_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L: monthly incremental append with re-delivery overlap — rows
    already loaded win over the re-delivered (mutated) copies; the
    doubled fine in the overlap proves the survivor rule held."""
    v = etl.clean(etl.violations_shape(load_table(spark, sf_dir, "events")))
    existing = v.filter(F.col("issue_datetime") < F.lit("2024-01-20").cast("timestamp"))
    batch = v.filter(
        F.col("issue_datetime") >= F.lit("2024-01-10").cast("timestamp")
    ).withColumn("fine", F.col("fine") * 2)
    merged = etl.incremental_append(existing, batch, "ticket_number")
    return merged.agg(
        F.count("*").alias("n"),
        F.countDistinct("ticket_number").alias("n_keys"),
        F.round(F.sum("fine"), 2).alias("total_fine"),
    )


@register(
    "etl_csv_roundtrip",
    oracle="""
SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    tags=("A5", "A2"),
)
def etl_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5→A2: publish filtered orders to CSV, re-ingest with an explicit
    schema, aggregate. The oracle aggregates the source directly — any
    loss in the write/parse round trip breaks the hash."""
    path = scratch("csv_roundtrip")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    writers.write_csv(etl.publish(o, "o_orderdate", "o_orderkey"), path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    back = readers.read_csv(
        spark, path, schema, timestamp_format="yyyy-MM-dd'T'HH:mm:ss.SSSXXX"
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("o_orderstatus")
    )


@register(
    "etl_parquet_partitioned",
    oracle="""
SELECT year(o_orderdate) AS yr, o_orderstatus, count(*) AS cnt,
  round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY yr, o_orderstatus ORDER BY yr, o_orderstatus
""",
    tags=("A5", "A1"),
)
def etl_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5→A1: write orders hive-partitioned by year (the 100-TB layout:
    date-partitioned output enables static+dynamic partition pruning for
    every downstream scan), re-read, aggregate per partition."""
    path = scratch("parquet_partitioned")
    o = load_table(spark, sf_dir, "orders").withColumn(
        "yr", F.year("o_orderdate")
    )
    writers.write_parquet(o, path, partition_by=["yr"])
    # explicit schema: an EMPTY input writes no part files (schema
    # inference fails) and an all-NULL yr writes only the
    # __HIVE_DEFAULT_PARTITION__ dir (yr must stay int, parsed as NULL)
    back = spark.read.schema(o.schema).parquet(path)
    return (
        back.groupBy("yr", "o_orderstatus")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("yr", "o_orderstatus")
    )


@register(
    "etl_jsonl_roundtrip",
    oracle="""
SELECT event_type, count(*) AS cnt,
  CAST(sum(CAST(json_extract(CASE WHEN json_valid(props) THEN props END, '$.k') AS INT)) AS BIGINT) AS sum_k
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("A5", "A3", "H7"),
)
def etl_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5→A3: export events as JSON-lines, re-ingest with explicit
    schema, extract the nested metric — semi-structured round trip."""
    path = scratch("jsonl_roundtrip")
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "props")
    e.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("props", T.StringType()),
        ]
    )
    back = readers.read_jsonl(spark, path, schema)
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.get_json_object("props", "$.k").cast("int")).alias("sum_k"),
        )
        .orderBy("event_type")
    )


@register(
    "etl_jdbc_roundtrip",
    oracle="""
SELECT n_regionkey, CAST(count(*) AS BIGINT) AS cnt, min(n_name) AS first_name
FROM nation WHERE n_nationkey >= 5
GROUP BY n_regionkey ORDER BY n_regionkey
""",
    tags=("A4",),
)
def etl_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 end-to-end: write the nation dim to an EMBEDDED Derby
    database (the pure-JVM JDBC engine Spark already ships for its
    Hive metastore), read it back as a PARTITIONED JDBC scan
    (numPartitions + bounds on the key — the shape that parallelizes
    an operational-DB pull across executors), filter (pushed to the
    DB as a WHERE clause — JDBCRelation pushes predicates), and
    aggregate. Oracle runs the same relational query on the parquet
    source, proving the DB round trip preserved every row."""
    url = f"jdbc:derby:{scratch('derby_a4')};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    n = load_table(spark, sf_dir, "nation")
    (
        n.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_jdbc")
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )
    hi = n.agg(F.max("n_nationkey")).head()[0] or 1
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_jdbc")
        .option("driver", driver)
        .option("partitionColumn", "n_nationkey")
        .option("lowerBound", "0")
        .option("upperBound", str(hi + 1))
        .option("numPartitions", "4")
        .load()
    )
    return (
        back.filter(F.col("n_nationkey") >= 5)
        .groupBy("n_regionkey")
        .agg(F.count("*").alias("cnt"), F.min("n_name").alias("first_name"))
        .orderBy("n_regionkey")
    )


@register(
    "etl_scd2_merge",
    oracle="""
WITH dim AS (
  SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal,
         TIMESTAMP '2024-01-01' AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
  FROM customer
), upd AS (
  SELECT c_custkey, c_name, round(c_acctbal + 100, 2) AS c_acctbal
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + 1000000, c_name || ' (new)', round(c_acctbal, 2)
  FROM customer WHERE c_custkey % 11 = 0
)
SELECT * FROM (
  -- untouched (IS NOT DISTINCT FROM: the classic SCD2 NULL trap —
  -- a NULL-to-NULL attribute is UNCHANGED, a plain = would silently
  -- drop the member from the dimension)
  SELECT d.* FROM dim d LEFT JOIN upd u USING (c_custkey)
  WHERE u.c_custkey IS NULL OR u.c_acctbal IS NOT DISTINCT FROM d.c_acctbal
  UNION ALL
  -- closed old versions
  SELECT d.c_custkey, d.c_name, d.c_acctbal, d.valid_from,
         TIMESTAMP '2024-06-01', FALSE
  FROM dim d JOIN upd u USING (c_custkey)
  WHERE u.c_acctbal IS DISTINCT FROM d.c_acctbal
  UNION ALL
  -- reopened new versions
  SELECT d.c_custkey, d.c_name, u.c_acctbal, TIMESTAMP '2024-06-01',
         CAST(NULL AS TIMESTAMP), TRUE
  FROM dim d JOIN upd u USING (c_custkey)
  WHERE u.c_acctbal IS DISTINCT FROM d.c_acctbal
  UNION ALL
  -- inserts
  SELECT u.c_custkey, u.c_name, u.c_acctbal, TIMESTAMP '2024-06-01',
         CAST(NULL AS TIMESTAMP), TRUE
  FROM upd u LEFT JOIN dim d USING (c_custkey) WHERE d.c_custkey IS NULL
)
ORDER BY c_custkey, valid_from
""",
    tags=("L", "C2", "C5", "G1"),
)
def etl_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L: SCD type-2 dimension merge (plans/etl.py scd2_merge — the
    MERGE INTO shape on plain parquet). Updates bump acctbal +100 for
    custkey%7 rows and insert custkey%11 clones as new members; output
    is the full versioned dimension. acctbal is pre-rounded to cents
    on both sides so +100 stays exact in doubles."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    dim = (
        c.withColumn("valid_from", F.lit("2024-01-01").cast("timestamp"))
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )
    changed = c.filter(F.col("c_custkey") % 7 == 0).withColumn(
        "c_acctbal", F.round(F.col("c_acctbal") + 100, 2)
    )
    inserts = (
        c.filter(F.col("c_custkey") % 11 == 0)
        .withColumn("c_custkey", F.col("c_custkey") + 1000000)
        .withColumn("c_name", F.concat(F.col("c_name"), F.lit(" (new)")))
    )
    updates = changed.unionByName(inserts)
    merged = etl.scd2_merge(
        dim, updates, "c_custkey", ["c_acctbal", "c_name"], "2024-06-01"
    )
    return merged.orderBy("c_custkey", "valid_from")


@register(
    "etl_dq_checks",
    oracle="""
SELECT 'lineitem_fk_orders' AS rule,
       (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) AS n_violations
UNION ALL
SELECT 'orders_fk_customer',
       (SELECT count(*) FROM orders o LEFT JOIN customer c
        ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
UNION ALL
SELECT 'orders_pk_unique',
       (SELECT count(*) FROM (SELECT o_orderkey FROM orders
        GROUP BY o_orderkey HAVING count(*) > 1))
UNION ALL
SELECT 'lineitem_qty_range',
       (SELECT count(*) FROM lineitem
        WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50)
UNION ALL
SELECT 'orders_price_positive',
       (SELECT count(*) FROM orders
        WHERE o_totalprice IS NULL OR o_totalprice <= 0)
ORDER BY rule
""",
    tags=("L", "B5", "C5", "D1"),
)
def etl_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate (the pre-publish validation stage): one row
    per rule with its violation count — referential integrity via
    anti-joins (broadcast where the parent is a dim), key uniqueness
    via grouped HAVING, range/null rules as pushed-down filters. A
    publish job asserts all-zero before writing; emitting the counts
    keeps the gate observable."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def one(rule: str, cnt: DataFrame) -> DataFrame:
        return cnt.select(
            F.lit(rule).alias("rule"), F.col("n").cast("long").alias("n_violations")
        )

    checks = [
        one(
            "lineitem_fk_orders",
            li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").agg(
                F.count("*").alias("n")
            ),
        ),
        one(
            "orders_fk_customer",
            o.join(maybe_broadcast(c, sf_dir, "customer"), o.o_custkey == c.c_custkey, "left_anti").agg(
                F.count("*").alias("n")
            ),
        ),
        one(
            "orders_pk_unique",
            o.groupBy("o_orderkey")
            .count()
            .filter(F.col("count") > 1)
            .agg(F.count("*").alias("n")),
        ),
        one(
            "lineitem_qty_range",
            li.filter(
                F.col("l_quantity").isNull()
                | (F.col("l_quantity") < 1)
                | (F.col("l_quantity") > 50)
            ).agg(F.count("*").alias("n")),
        ),
        one(
            "orders_price_positive",
            o.filter(
                F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)
            ).agg(F.count("*").alias("n")),
        ),
    ]
    out = checks[0]
    for ch in checks[1:]:
        out = out.unionByName(ch)
    return out.orderBy("rule")


@register(
    "etl_snapshot_diff",
    oracle="""
WITH old AS (
  SELECT c_custkey, round(c_acctbal, 2) AS bal FROM customer
), new AS (
  SELECT c_custkey, round(c_acctbal + CASE WHEN c_custkey % 9 = 0 THEN 50 ELSE 0 END, 2) AS bal
  FROM customer WHERE c_custkey % 13 <> 0
  UNION ALL
  SELECT c_custkey + 2000000, round(c_acctbal, 2) FROM customer WHERE c_custkey % 17 = 0
)
SELECT
  (SELECT count(*) FROM new n LEFT JOIN old o USING (c_custkey)
   WHERE o.c_custkey IS NULL) AS n_inserted,
  (SELECT count(*) FROM old o LEFT JOIN new n USING (c_custkey)
   WHERE n.c_custkey IS NULL) AS n_deleted,
  (SELECT count(*) FROM old o JOIN new n USING (c_custkey)
   WHERE o.bal <> n.bal) AS n_changed,
  (SELECT count(*) FROM old o JOIN new n USING (c_custkey)
   WHERE o.bal = n.bal) AS n_unchanged
""",
    tags=("L", "C2", "C5", "G2"),
)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: classify every key across two dimension
    snapshots as inserted / deleted / changed / unchanged (the audit
    report before applying a merge). One full-outer join on the key,
    classified with null-safe comparisons — never two passes or four
    separate joins over the big table; the four counts come from one
    conditional aggregate over the joined frame."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.round("c_acctbal", 2).alias("bal")
    )
    new = (
        c.filter(F.col("c_custkey") % 13 != 0)
        .withColumn(
            "bal",
            F.round(
                F.col("bal")
                + F.when(F.col("c_custkey") % 9 == 0, 50).otherwise(0),
                2,
            ),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 17 == 0).withColumn(
                "c_custkey", F.col("c_custkey") + 2000000
            )
        )
    )
    # explicit existence flags: classification must key on row
    # PRESENCE, not on bal's NULL-ness (a legitimately-NULL balance in
    # a matched row is neither an insert nor a delete)
    j = c.select(
        F.col("c_custkey").alias("k"),
        F.col("bal").alias("old_bal"),
        F.lit(1).alias("__in_old"),
    ).join(
        new.select(
            F.col("c_custkey").alias("k"),
            F.col("bal").alias("new_bal"),
            F.lit(1).alias("__in_new"),
        ),
        "k",
        "full_outer",
    )
    # count_if, not sum-of-casts: sum over ZERO rows is NULL (an empty
    # snapshot pair must report four 0s, like the oracle's count(*))
    return j.agg(
        F.count_if(F.col("__in_old").isNull()).alias("n_inserted"),
        F.count_if(F.col("__in_new").isNull()).alias("n_deleted"),
        F.count_if(
            F.col("old_bal").isNotNull()
            & F.col("new_bal").isNotNull()
            & (F.col("old_bal") != F.col("new_bal"))
        ).alias("n_changed"),
        F.count_if(
            F.col("old_bal").isNotNull()
            & F.col("new_bal").isNotNull()
            & (F.col("old_bal") == F.col("new_bal"))
        ).alias("n_unchanged"),
    )


@register(
    "etl_bad_record_quarantine",
    oracle="""
SELECT
  -- DuckDB count_if is sum-backed: NULL over zero rows; an empty feed
  -- has 0 good and 0 bad records, like Spark's count_if
  CAST(coalesce(count_if(o_orderkey % 50 <> 0), 0) AS BIGINT) AS n_good,
  CAST(coalesce(count_if(o_orderkey % 50 = 0), 0) AS BIGINT)  AS n_bad,
  CAST(sum(CASE WHEN o_orderkey % 50 <> 0
           THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS good_cents
FROM orders
""",
    tags=("A2", "B5", "L"),
)
def etl_bad_record_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine on CSV ingest: rows whose price field
    is unparseable land in Spark's PERMISSIVE-mode _corrupt_record
    column instead of failing the job — the ingest pattern that
    separates quarantine counts from clean data in one pass.

    The dirty file is built deterministically (every 50th order's
    cents field replaced with 'N/A'), so the oracle reproduces the
    good/bad split from the clean source table. Money rides as integer
    cents through the CSV so no float formatting can drift.
    """
    import os

    from parking_violations_data_pipeline_spark.catalog import scratch
    from pyspark.sql import types as T

    path = scratch("bad_record_quarantine")
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    line = F.concat_ws(
        ",",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.when(F.col("o_orderkey") % 50 == 0, F.lit("N/A")).otherwise(
            cents.cast("string")
        ),
    )
    o.select(line.alias("value")).write.mode("overwrite").text(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("cents", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = spark.read.csv(
        path,
        schema=schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )
    bad = F.col("_corrupt_record").isNotNull()
    return back.agg(
        F.count_if(~bad).alias("n_good"),
        F.count_if(bad).alias("n_bad"),
        F.sum(F.when(~bad, F.col("cents"))).alias("good_cents"),
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
    "etl_stage_row_audit",
    oracle="""
WITH src AS (SELECT * FROM events),
typed AS (
  SELECT user_id, event_type, value FROM src
  WHERE value IS NOT NULL AND value > 0
),
deduped AS (
  SELECT user_id, event_type, max(value) AS value
  FROM typed GROUP BY user_id, event_type
),
enriched AS (
  SELECT d.*, c.c_mktsegment FROM deduped d
  JOIN customer c ON c.c_custkey = d.user_id % 1500 + 1
)
SELECT stage, rows, round(pct_of_source, 4) AS pct_of_source
FROM (
  SELECT 0 AS ord, 'source'   AS stage, CAST(count(*) AS BIGINT) AS rows,
         100.0 AS pct_of_source FROM src
  UNION ALL
  SELECT 1, 'typed_valid', CAST(count(*) AS BIGINT),
         count(*) * 100.0 / (SELECT count(*) FROM src) FROM typed
  UNION ALL
  SELECT 2, 'deduped', CAST(count(*) AS BIGINT),
         count(*) * 100.0 / (SELECT count(*) FROM src) FROM deduped
  UNION ALL
  SELECT 3, 'enriched', CAST(count(*) AS BIGINT),
         count(*) * 100.0 / (SELECT count(*) FROM src) FROM enriched
) ORDER BY ord
""",
    tags=("A5", "B5", "D1"),
)
def etl_stage_row_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability: row counts and source-relative
    percentages at every stage of a clean→dedup→enrich pipeline, in
    one job — the audit trail that catches a filter eating 40% of a
    feed before the bad batch ships.

    Each stage is declared once and reused (Catalyst shares the
    subplans); the four counts union into a 4-row report. At 100 TB
    this replaces four separate audit queries with one pass per
    distinct stage — and because the counts come from the SAME plan
    that produces the data, they cannot drift from what actually ran.
    The enrich stage maps user_id onto the customer key range so the
    join is a real (broadcast) dim join with a knowable hit rate.
    """
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    src = e
    typed = src.filter(F.col("value").isNotNull() & (F.col("value") > 0)).select(
        "user_id", "event_type", "value"
    )
    deduped = typed.groupBy("user_id", "event_type").agg(
        F.max("value").alias("value")
    )
    enriched = deduped.join(
        maybe_broadcast(c.select("c_custkey", "c_mktsegment"), sf_dir, "customer"),
        F.col("c_custkey") == F.col("user_id") % 1500 + 1,
    )
    n_src = src.agg(F.count("*").alias("n"))

    def stage(df: DataFrame, ord_: int, name: str) -> DataFrame:
        return (
            df.agg(F.count("*").alias("rows"))
            .crossJoin(F.broadcast(n_src))
            .select(
                F.lit(ord_).alias("ord"),
                F.lit(name).alias("stage"),
                "rows",
                # source is 100.0 BY DEFINITION (as in the oracle);
                # downstream stages use try_divide so an empty source
                # (n=0) reports NULL pcts, matching DuckDB's
                # NULL-on-zero division
                (
                    F.lit(100.0)
                    if ord_ == 0
                    else F.round(
                        F.try_divide(F.col("rows") * 100.0, F.col("n")), 4
                    )
                ).alias("pct_of_source"),
            )
        )

    report = (
        stage(src, 0, "source")
        .unionByName(stage(typed, 1, "typed_valid"))
        .unionByName(stage(deduped, 2, "deduped"))
        .unionByName(stage(enriched, 3, "enriched"))
    )
    return report.orderBy("ord").select("stage", "rows", "pct_of_source")


@register(
    "etl_inflight_observe",
    oracle="""
SELECT
  CAST(count(*) AS BIGINT)                                       AS n_rows,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                                                                 AS sum_cents,
  CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                                 AS n_bad_qty,
  CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
                                                                 AS n_bad_discount
FROM lineitem
""",
    tags=("A5", "B5", "D1"),
)
def etl_inflight_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight data-quality metrics via `DataFrame.observe` + the
    `Observation` helper: the DQ counters (row count, money total,
    nonpositive quantities, out-of-range discounts) are computed
    AS the data flows through an action — zero additional scans, which
    at 100 TB is the difference between free monitoring and doubling
    the job. This is the batch twin of streaming's observe/metrics
    listener.

    The observed metrics surface driver-side after the action; the
    query re-emits them as a one-row DataFrame so the driver protocol
    can hash them against the oracle's second-scan recomputation —
    proving the in-flight numbers equal the ground truth.
    """
    from pyspark.sql import Observation

    l = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    obs = Observation("dq")
    observed = l.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents).alias("sum_cents"),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias("n_bad_qty"),
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5), 1
            ).otherwise(0)
        ).alias("n_bad_discount"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get

    def _i(x):  # sums observe as NULL on an empty flow — keep them NULL
        return int(x) if x is not None else None

    return spark.createDataFrame(
        [
            (
                _i(m["n_rows"]),
                _i(m["sum_cents"]),
                _i(m["n_bad_qty"]),
                _i(m["n_bad_discount"]),
            )
        ],
        "n_rows bigint, sum_cents bigint, n_bad_qty bigint, n_bad_discount bigint",
    )


@register(
    "etl_gdpr_erasure",
    oracle="""
WITH req AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 13 = 0
),
before AS (
  SELECT CAST(count(*) AS BIGINT) AS n_before FROM events
),
kept AS (
  SELECT e.* FROM events e LEFT JOIN req r ON e.user_id = r.user_id
  WHERE r.user_id IS NULL
)
SELECT
  (SELECT n_before FROM before)                       AS n_before,
  (SELECT CAST(count(*) AS BIGINT) FROM req)          AS n_requested_users,
  (SELECT n_before FROM before)
    - CAST(count(*) AS BIGINT)                        AS n_deleted_rows,
  CAST(count(*) AS BIGINT)                            AS n_after,
  CAST(sum(CASE WHEN user_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                      AS n_residual_rows
FROM kept
""",
    tags=("L", "C5", "A5"),
)
def etl_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure as a pipeline stage: anti-join
    the events table against the deletion-request list (users with
    user_id % 13 == 0 stand in for a DSAR batch), physically rewrite
    the retained data, then RE-READ the rewritten files and audit —
    rows deleted, rows remaining, and the residual count of requested
    users still present (must be 0, and is MEASURED from the re-read,
    not assumed from the plan). The re-read is the compliance point:
    proof lives in what's on disk, not in what the job intended.

    The anti-join broadcasts the request list (deletion batches are
    small relative to the corpus); the rewrite is a straight
    partition-parallel copy of survivors.
    """
    e = load_table(spark, sf_dir, "events")
    req = e.filter(F.col("user_id") % 13 == 0).select("user_id").distinct()
    n_before = e.count()
    n_requested = req.count()
    out = scratch("gdpr_erasure")
    e.join(maybe_broadcast(req, sf_dir, "events"), "user_id", "left_anti").write.mode(
        "overwrite"
    ).parquet(out)
    kept = spark.read.parquet(out)
    return kept.agg(
        F.lit(n_before).cast("long").alias("n_before"),
        F.lit(n_requested).cast("long").alias("n_requested_users"),
        (F.lit(n_before) - F.count("*")).cast("long").alias("n_deleted_rows"),
        F.count("*").alias("n_after"),
        F.sum(F.when(F.col("user_id") % 13 == 0, 1).otherwise(0)).alias(
            "n_residual_rows"
        ),
    )


@register(
    "etl_late_arriving_dim",
    oracle="""
WITH early_dim AS (
  SELECT * FROM customer WHERE c_custkey % 97 <> 0
),
phase1 AS (
  -- o_custkey rides along: re-joining orders on a (possibly
  -- duplicated) orderkey would fan the facts a second time
  SELECT o.o_orderkey, o.o_custkey,
    coalesce(d.c_mktsegment, 'UNKNOWN') AS segment,
    CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders o LEFT JOIN early_dim d ON o.o_custkey = d.c_custkey
),
resolved AS (
  SELECT p.o_orderkey,
    CASE WHEN p.segment = 'UNKNOWN' THEN c.c_mktsegment ELSE p.segment END AS segment,
    CASE WHEN p.segment = 'UNKNOWN' THEN 1 ELSE 0 END AS was_placeholder,
    p.cents
  FROM phase1 p JOIN customer c ON p.o_custkey = c.c_custkey
)
SELECT segment,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(was_placeholder) AS BIGINT) AS n_backfilled,
  CAST(sum(cents) AS BIGINT) AS cents
FROM resolved GROUP BY segment ORDER BY segment
""",
    tags=("C2", "L", "A5"),
)
def etl_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving-dimension handling: facts are enriched against a
    dimension snapshot that is MISSING some members (every 97th
    customer hasn't replicated yet), land with an 'UNKNOWN'
    placeholder instead of being dropped or stalled, and a later
    backfill pass re-keys the placeholders once the full dimension
    arrives — emitting per-segment totals plus the backfill audit
    count (how many rows were served under a placeholder). Both
    joins are broadcast (dimension side); the placeholder path never
    loses a fact row, proven because per-segment cents re-sum to the
    raw order total under the oracle.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    early = c.filter(F.col("c_custkey") % 97 != 0).select("c_custkey", "c_mktsegment")
    phase1 = (
        o.join(maybe_broadcast(early, sf_dir, "customer"), o.o_custkey == early.c_custkey, "left")
        .select(
            "o_orderkey",
            "o_custkey",
            F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
    )
    full_dim = c.select(
        F.col("c_custkey").alias("bk"), F.col("c_mktsegment").alias("true_segment")
    )
    resolved = phase1.join(maybe_broadcast(full_dim, sf_dir, "customer"), phase1.o_custkey == F.col("bk")).select(
        F.when(F.col("segment") == "UNKNOWN", F.col("true_segment"))
        .otherwise(F.col("segment"))
        .alias("segment"),
        F.when(F.col("segment") == "UNKNOWN", 1).otherwise(0).alias("was_placeholder"),
        "cents",
    )
    return (
        resolved.groupBy("segment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("was_placeholder").alias("n_backfilled"),
            F.sum("cents").alias("cents"),
        )
        .orderBy("segment")
    )


@register(
    "etl_retention_prune",
    oracle="""
WITH e AS (
  SELECT epoch_us(ts) // 86400000000 AS day_id,
    CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
cutoff AS (SELECT max(day_id) - 6 AS keep_from FROM e)
SELECT CAST(day_id AS BIGINT) AS day_id,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(cents) AS BIGINT) AS cents
FROM e CROSS JOIN cutoff
WHERE day_id >= keep_from
GROUP BY day_id ORDER BY day_id
""",
    tags=("A5", "A1", "L"),
)
def etl_retention_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level retention enforcement: events land
    day-partitioned, the retention job DELETES partition directories
    older than the 7-day window at the FILESYSTEM level (no row
    rewrite — the whole point of date partitioning is that expiry is
    an O(partitions) directory drop, not an O(rows) delete), and the
    re-read proves exactly the retained days survive. The oracle
    recomputes the retained window from the source, so a green row
    means the prune removed everything it should and nothing it
    shouldn't — the GDPR-erasure twin at partition grain
    (etl_gdpr_erasure is the row-grain version).
    """
    path = scratch("retention_prune")
    e = load_table(spark, sf_dir, "events").select(
        epoch_us("ts").alias("us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    ).select(F.expr("us div 86400000000").alias("day_id"), "cents")
    e.repartition(8, "day_id").write.mode("overwrite").partitionBy("day_id").parquet(path)

    keep_from = e.agg((F.max("day_id") - 6).alias("k")).collect()[0]["k"]
    for d in glob.glob(os.path.join(path, "day_id=*")):
        part = d.rsplit("=", 1)[1]
        # NULL day_id rows land in __HIVE_DEFAULT_PARTITION__; the
        # retained window (day_id >= keep_from) never includes NULL, so
        # that dir is always pruned. keep_from is None only when the
        # source has no non-NULL day — then nothing is retained.
        if part == "__HIVE_DEFAULT_PARTITION__" or keep_from is None or int(part) < keep_from:
            shutil.rmtree(d)

    # explicit schema: a fully-pruned (or empty-input) layout has no
    # files left, which would fail schema inference
    back = spark.read.schema(e.schema).parquet(path)
    return (
        back.groupBy(F.col("day_id").cast("long").alias("day_id"))
        .agg(F.count("*").alias("n_rows"), F.sum("cents").alias("cents"))
        .orderBy("day_id")
    )


@register(
    "etl_hash_chain_ledger",
    oracle="""
WITH rows_h AS (
  SELECT epoch_us(ts) // 86400000000 AS day_id,
    epoch_us(ts) AS us, event_id,
    md5(CAST(event_id AS VARCHAR) || '|' || CAST(epoch_us(ts) AS VARCHAR)
        || '|' || CAST(CAST(round(value * 100, 0) AS BIGINT) AS VARCHAR)) AS rh
  FROM events
),
chained AS (
  -- order by (us, event_id, rh): a duplicated (ts, id) pair with a
  -- different payload must still chain in one cross-engine order;
  -- NULL-payload rows cannot be hashed into a ledger - excluded
  SELECT day_id,
    CAST(count(*) AS BIGINT) AS n_rows,
    list_reduce(
      list_prepend('GENESIS', list(rh ORDER BY us, event_id, rh)),
      (acc, x) -> md5(acc || x)
    ) AS chain_hash
  FROM rows_h WHERE rh IS NOT NULL GROUP BY day_id
)
SELECT CAST(day_id AS BIGINT) AS day_id, n_rows, chain_hash
FROM chained ORDER BY day_id
""",
    tags=("H4", "E3", "L"),
)
def etl_hash_chain_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tamper-evident audit ledger: every event hashes its business
    payload, and each day's records fold into a CHAIN hash
    (hᵢ = md5(hᵢ₋₁ ‖ rowᵢ) from a GENESIS seed, rows in (ts,
    event_id) total order) — append-only-log verification, where
    changing, dropping, or reordering ANY historical row changes the
    day's final digest. The recursion is the e_ewma_fold shape: an
    ordered per-day array folded JVM-side with a higher-order
    aggregate; md5 is the engine-shared hash, so the oracle replays
    the identical chain. Per-day arrays are bounded by daily volume;
    a 100-TB ledger chains per (day, shard) then folds shard digests.
    """
    e = load_table(spark, sf_dir, "events")
    rows_h = e.select(
        epoch_us("ts").alias("us"),
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    ).select(
        F.expr("us div 86400000000").alias("day_id"),
        "us",
        "event_id",
        # concat (NULL-propagating, like the oracle's ||): a row with a
        # NULL payload field has no ledger hash and is excluded below
        F.md5(
            F.concat(
                F.col("event_id").cast("string"),
                F.lit("|"),
                F.col("us").cast("string"),
                F.lit("|"),
                F.col("cents").cast("string"),
            )
        ).alias("rh"),
    )
    chained = rows_h.filter(F.col("rh").isNotNull()).groupBy("day_id").agg(
        F.count("*").alias("n_rows"),
        F.expr(
            "aggregate("
            " transform(array_sort(collect_list(struct(us, event_id, rh))), s -> s.rh),"
            " 'GENESIS', (acc, x) -> md5(concat(acc, x)))"
        ).alias("chain_hash"),
    )
    return chained.select(
        F.col("day_id").cast("long").alias("day_id"), "n_rows", "chain_hash"
    ).orderBy("day_id")


@register(
    "etl_schema_drift_monitor",
    oracle="""
WITH expected(col_name, v1_type, v2_type) AS (
  VALUES
    ('event_id',  'bigint',  'bigint'),
    ('user_id',   'bigint',  'bigint'),
    ('cents',     'bigint',  NULL),
    ('amount_milli', NULL,   'bigint'),
    ('event_type', NULL,     'string')
)
SELECT col_name, v1_type, v2_type,
  CASE WHEN v1_type IS NULL THEN 'added'
       WHEN v2_type IS NULL THEN 'removed'
       WHEN v1_type = v2_type THEN 'unchanged'
       ELSE 'type_changed' END AS drift
FROM expected ORDER BY col_name
""",
    tags=("A1", "A5", "B2"),
)
def etl_schema_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift report between two dataset versions: v1 carries
    (event_id, user_id, cents); v2 renames the money column to
    amount_milli and adds event_type — the report classifies every
    column as added / removed / type_changed / unchanged by
    MEASURING the schemas of the two written datasets (read back
    from parquet footers, not assumed) — the check a schema registry
    runs before letting a producer deploy. The oracle pins the
    expected drift table; a green row proves the reader recovered
    exactly the footer schemas.
    """
    e = load_table(spark, sf_dir, "events")
    p1 = scratch("drift_v1")
    p2 = scratch("drift_v2")
    e.select(
        "event_id", "user_id", F.round(F.col("value") * 100, 0).cast("long").alias("cents")
    ).limit(100).write.mode("overwrite").parquet(p1)
    e.select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 1000, 0).cast("long").alias("amount_milli"),
        "event_type",
    ).limit(100).write.mode("overwrite").parquet(p2)
    s1 = dict(spark.read.parquet(p1).dtypes)
    s2 = dict(spark.read.parquet(p2).dtypes)
    rows = []
    for col in sorted(set(s1) | set(s2)):
        v1, v2 = s1.get(col), s2.get(col)
        drift = (
            "added" if v1 is None
            else "removed" if v2 is None
            else "unchanged" if v1 == v2
            else "type_changed"
        )
        rows.append((col, v1, v2, drift))
    return local_df(
        spark, rows, "col_name string, v1_type string, v2_type string, drift string"
    ).orderBy("col_name")


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


def _merge(target: DataFrame, source: DataFrame) -> DataFrame:
    """Last-write-wins MERGE: full outer on the key, source wins."""
    t = target.select(F.col("k").alias("tk"), F.col("cents").alias("tc"))
    s = source.select(F.col("k").alias("sk"), F.col("cents").alias("sc"))
    return t.join(s, t.tk == s.sk, "full_outer").select(
        F.coalesce("tk", "sk").alias("k"),
        F.coalesce("sc", "tc").alias("cents"),
    )


@register(
    "etl_merge_idempotency",
    oracle="""
WITH target AS (
  SELECT o_custkey AS k,
    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM orders WHERE o_custkey % 2 = 0 GROUP BY o_custkey
),
source AS (
  SELECT o_custkey AS k,
    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) * 2 AS cents
  FROM orders WHERE o_custkey % 3 = 0 GROUP BY o_custkey
),
merged AS (
  SELECT coalesce(t.k, s.k) AS k, coalesce(s.cents, t.cents) AS cents
  FROM target t FULL OUTER JOIN source s ON t.k = s.k
)
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(cents) AS BIGINT) AS total_cents,
  CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
  TRUE AS idempotent
FROM merged
""",
    tags=("C2", "L", "G1"),
)
def etl_merge_idempotency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE idempotency, proven by applying the SAME source batch
    TWICE: merge(merge(target, src), src) must equal
    merge(target, src) row-for-row (last-write-wins is idempotent by
    design — a re-delivered batch or a retried job must not change
    the table). The batch twin of s_exactly_once_replay's streaming
    guarantee. `idempotent` compares the two results via an exact
    anti-join count IN-PLAN; the summary row re-derives from the
    single application so the oracle checks both the merge algebra
    and the idempotency claim.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    target = (
        o.filter(F.col("o_custkey") % 2 == 0)
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.sum(cents).alias("cents"))
    )
    source = (
        o.filter(F.col("o_custkey") % 3 == 0)
        .groupBy(F.col("o_custkey").alias("k"))
        .agg((F.sum(cents) * 2).alias("cents"))
    )
    once = _merge(target, source)
    twice = _merge(once, source)
    diff = (
        once.withColumnRenamed("cents", "c1")
        .join(twice.withColumnRenamed("cents", "c2"), "k", "full_outer")
        # IS DISTINCT FROM: a legitimately-NULL cents value that
        # round-trips as NULL is NOT a difference
        .filter(~F.col("c1").eqNullSafe(F.col("c2")))
        .count()
    )
    return once.agg(
        F.count("*").alias("n_rows"),
        F.sum("cents").alias("total_cents"),
        F.countDistinct("k").alias("n_keys"),
    ).withColumn("idempotent", F.lit(bool(diff == 0)))


@register(
    "etl_column_change_profile",
    oracle="""
WITH v2 AS (
  SELECT c_custkey,
    CASE WHEN c_custkey % 7 = 0 THEN 'MOVED-SEGMENT' ELSE c_mktsegment END AS seg,
    CASE WHEN c_custkey % 11 = 0
         THEN CAST(round(c_acctbal * 100, 0) AS BIGINT) + 500
         ELSE CAST(round(c_acctbal * 100, 0) AS BIGINT) END AS cents,
    c_nationkey
  FROM customer
),
diffs AS (
  SELECT
    CASE WHEN c.c_mktsegment <> v.seg THEN 1 ELSE 0 END AS seg_chg,
    CASE WHEN CAST(round(c.c_acctbal * 100, 0) AS BIGINT) <> v.cents THEN 1 ELSE 0 END AS bal_chg,
    CASE WHEN c.c_nationkey <> v.c_nationkey THEN 1 ELSE 0 END AS nat_chg
  FROM customer c JOIN v2 v ON c.c_custkey = v.c_custkey
)
SELECT col_name, n_changed, n_rows,
  CAST(n_changed * 1000000 // n_rows AS BIGINT) AS changed_ppm
FROM (
  SELECT 'c_acctbal' AS col_name, CAST(sum(bal_chg) AS BIGINT) AS n_changed,
    CAST(count(*) AS BIGINT) AS n_rows FROM diffs
  UNION ALL
  SELECT 'c_mktsegment', CAST(sum(seg_chg) AS BIGINT), CAST(count(*) AS BIGINT) FROM diffs
  UNION ALL
  SELECT 'c_nationkey', CAST(sum(nat_chg) AS BIGINT), CAST(count(*) AS BIGINT) FROM diffs
)
ORDER BY col_name
""",
    tags=("B5", "L", "D1"),
)
def etl_column_change_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level change profile between dimension snapshots: for
    each column, how many matched rows changed — the drill-down
    below etl_snapshot_diff's row-level classify (a spike in ONE
    column's change rate localizes the upstream bug; a row-level
    'changed' count can't). The v2 snapshot derives
    deterministically (every 7th segment re-labeled, every 11th
    balance shifted 5 dollars); per-column deltas come from one
    keyed join + conditional sums, stacked into the long-format
    profile reporting dashboards expect.
    """
    c = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    v2 = c.select(
        F.col("c_custkey").alias("vk"),
        F.when(F.col("c_custkey") % 7 == 0, "MOVED-SEGMENT")
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
        F.when(F.col("c_custkey") % 11 == 0, cents + 500).otherwise(cents).alias("vcents"),
        F.col("c_nationkey").alias("vnat"),
    )
    diffs = c.join(v2, c.c_custkey == v2.vk).select(
        F.when(F.col("c_mktsegment") != F.col("seg"), 1).otherwise(0).alias("seg_chg"),
        F.when(cents != F.col("vcents"), 1).otherwise(0).alias("bal_chg"),
        F.when(F.col("c_nationkey") != F.col("vnat"), 1).otherwise(0).alias("nat_chg"),
    )
    agg = diffs.agg(
        F.sum("seg_chg").alias("seg"),
        F.sum("bal_chg").alias("bal"),
        F.sum("nat_chg").alias("nat"),
        F.count("*").alias("n"),
    ).collect()[0]
    rows = [
        ("c_acctbal", agg["bal"], agg["n"]),
        ("c_mktsegment", agg["seg"], agg["n"]),
        ("c_nationkey", agg["nat"], agg["n"]),
    ]
    return (
        local_df(spark, rows, "col_name string, n_changed long, n_rows long")
        .withColumn("changed_ppm", F.expr("n_changed * 1000000 div n_rows"))
        .orderBy("col_name")
    )


@register(
    "etl_completeness_watermark",
    oracle="""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
    CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, d
),
bounds AS (
  SELECT event_type, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY event_type
),
spine AS (
  SELECT b.event_type, b.d0, t.day_id
  FROM bounds b, unnest(generate_series(b.d0, b.d1)) AS t(day_id)
),
graded AS (
  SELECT s.event_type, s.day_id,
    CASE WHEN coalesce(dy.n, 0) >= 10 THEN 1 ELSE 0 END AS complete
  FROM spine s LEFT JOIN daily dy
    ON s.event_type = dy.event_type AND s.day_id = dy.d
),
runs AS (
  SELECT event_type, day_id, complete,
    min(CASE WHEN complete = 0 THEN day_id END)
      OVER (PARTITION BY event_type) AS first_gap
  FROM graded
)
SELECT event_type,
  CAST(max(CASE WHEN first_gap IS NULL THEN day_id
                WHEN day_id < first_gap THEN day_id END) AS BIGINT) AS watermark_day,
  CAST(count(*) AS BIGINT) AS n_days_spanned,
  CAST(sum(1 - complete) AS BIGINT) AS n_incomplete_days
FROM runs GROUP BY event_type ORDER BY event_type
""",
    tags=("L", "B5", "H2"),
)
def etl_completeness_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-completeness watermark per source stream: the LAST day
    through which every day from the stream's start meets the
    volume threshold (≥10 rows here) — the contract a downstream
    consumer reads before trusting partitions ('data is complete
    through day W; anything after may still be loading'). A single
    thin day FREEZES the watermark even if later days are full —
    exactly the semantics, computed as days strictly before the
    first incomplete day on a densified spine (gap days count as
    incomplete). One day-grain rollup + spine + one window.
    """
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select("event_type", epoch_us("ts").alias("us"))
        .select("event_type", F.expr("us div 86400000000").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count("*").alias("n"))
    )
    bounds = daily.groupBy("event_type").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence("d0", "d1")).alias("day_id")
    )
    graded = spine.join(
        daily.select(F.col("event_type").alias("et"), F.col("d"), "n"),
        (spine.event_type == F.col("et")) & (spine.day_id == F.col("d")),
        "left",
    ).select(
        "event_type",
        "day_id",
        F.when(F.coalesce("n", F.lit(0)) >= 10, 1).otherwise(0).alias("complete"),
    )
    w = Window.partitionBy("event_type")
    runs = graded.select(
        "event_type",
        "day_id",
        "complete",
        F.min(F.when(F.col("complete") == 0, F.col("day_id"))).over(w).alias("first_gap"),
    )
    return (
        runs.groupBy("event_type")
        .agg(
            F.max(
                F.when(F.col("first_gap").isNull(), F.col("day_id")).when(
                    F.col("day_id") < F.col("first_gap"), F.col("day_id")
                )
            ).alias("watermark_day"),
            F.count("*").alias("n_days_spanned"),
            F.sum(1 - F.col("complete")).alias("n_incomplete_days"),
        )
        .orderBy("event_type")
    )


@register(
    "etl_volume_anomaly",
    oracle="""
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS d, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY d
),
med AS (
  SELECT d, c, row_number() OVER (ORDER BY c, d) AS rn, count(*) OVER () AS n
  FROM daily
),
m AS (SELECT max(CASE WHEN rn = (n + 1) // 2 THEN c END) AS med FROM med),
dev AS (
  SELECT daily.d, daily.c, abs(daily.c - m.med) AS ad, m.med
  FROM daily CROSS JOIN m
),
mad_rank AS (
  SELECT d, c, ad, med,
    row_number() OVER (ORDER BY ad, d) AS rn, count(*) OVER () AS n
  FROM dev
),
mad AS (
  SELECT max(med) AS med,
    max(CASE WHEN rn = (n + 1) // 2 THEN ad END) AS mad
  FROM mad_rank
)
SELECT
  CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
  CAST(mad.med AS BIGINT) AS median_daily_rows,
  CAST(mad.mad AS BIGINT) AS mad_rows,
  CAST((SELECT count(*) FROM dev, mad WHERE dev.ad > 3 * mad.mad) AS BIGINT)
    AS n_anomalous_days
FROM mad
""",
    tags=("L", "D5", "B5"),
)
def etl_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline volume-anomaly monitor: daily row counts screened
    against median ± 3·MAD — the robust alert every ingestion
    pipeline runs (mean ± σ gets dragged by the very outliers it
    should catch; the median/MAD pair doesn't). Both statistics are
    rank-exact at ⌈n/2⌉ (the discrete-quantile house rule), the
    deviation test is pure integer comparison, and the report is the
    one-row health summary a scheduler gates on.
    """
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(epoch_us("ts").alias("us"))
        .select(F.expr("us div 86400000000").alias("d"))
        .groupBy("d")
        .agg(F.count("*").alias("c"))
    )
    w_rank = Window.orderBy("c", "d")
    w_all = Window.partitionBy()
    med_t = daily.select(
        "d", "c", F.row_number().over(w_rank).alias("rn"), F.count("*").over(w_all).alias("n")
    )
    med = med_t.agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("c"))).alias("med")
    )
    dev = daily.crossJoin(F.broadcast(med)).select(
        "d", "c", F.abs(F.col("c") - F.col("med")).alias("ad"), "med"
    )
    w_rank2 = Window.orderBy("ad", "d")
    mad_t = dev.select(
        "ad", "med", F.row_number().over(w_rank2).alias("rn"), F.count("*").over(w_all).alias("n")
    )
    mad = mad_t.agg(
        F.max("med").alias("med"),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("ad"))).alias("mad"),
    )
    flagged = (
        dev.crossJoin(F.broadcast(mad.select(F.col("mad").alias("mad_v"))))
        .filter(F.col("ad") > 3 * F.col("mad_v"))
        .count()
    )
    n_days = daily.count()
    out = mad.select(
        F.lit(n_days).cast("long").alias("n_days"),
        F.col("med").alias("median_daily_rows"),
        F.col("mad").alias("mad_rows"),
        F.lit(flagged).cast("long").alias("n_anomalous_days"),
    )
    return out


@register(
    "etl_key_gap_audit",
    oracle="""
WITH k AS (
  SELECT o_orderkey AS key,
    lead(o_orderkey) OVER (ORDER BY o_orderkey) AS nxt
  FROM orders
)
SELECT
  CAST(count(*) AS BIGINT) AS n_keys,
  CAST(min(key) AS BIGINT) AS min_key,
  CAST(max(coalesce(nxt, key)) AS BIGINT) AS max_key,
  CAST(max(coalesce(nxt, key)) - min(key) + 1 - count(*) AS BIGINT)
    AS n_missing,
  CAST(count(*) FILTER (WHERE nxt IS NOT NULL AND nxt > key + 1) AS BIGINT)
    AS n_gaps,
  CAST(max(CASE WHEN nxt IS NOT NULL THEN nxt - key - 1 ELSE 0 END) AS BIGINT)
    AS largest_gap
FROM k
""",
    tags=("E2", "D1"),
)
def etl_key_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-space audit over the order surrogate key: how much of the
    [min, max] range is missing, how many gap runs, and the largest
    single hole — the lost-writes / failed-batch detector an ingestion
    pipeline runs after every load. One lead window over the sorted
    key column; everything else folds into a single aggregate. (TPC-H
    orderkeys are deliberately sparse — 4 of every 32 — so the gap
    census has real structure to find.)"""
    o = load_table(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("key"))
    kdf = o.withColumn("nxt", F.lead("key").over(Window.orderBy("key")))
    return kdf.agg(
        F.count("*").alias("n_keys"),
        F.min("key").alias("min_key"),
        F.max(F.coalesce(F.col("nxt"), F.col("key"))).alias("max_key"),
        (
            F.max(F.coalesce(F.col("nxt"), F.col("key")))
            - F.min("key") + 1 - F.count("*")
        ).alias("n_missing"),
        F.count(
            F.when(F.col("nxt").isNotNull() & (F.col("nxt") > F.col("key") + 1), 1)
        ).alias("n_gaps"),
        F.max(
            F.when(
                F.col("nxt").isNotNull(), F.col("nxt") - F.col("key") - 1
            ).otherwise(0)
        ).alias("largest_gap"),
    )


@register(
    "etl_log_compaction",
    oracle="""
WITH log AS (
  SELECT event_id, user_id AS key, epoch_us(ts) AS us,
    CASE WHEN event_type = 'view' THEN 'D' ELSE 'U' END AS op,
    CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
latest AS (
  SELECT key, op, cents,
    row_number() OVER (PARTITION BY key ORDER BY us DESC, event_id DESC) AS rn
  FROM log
)
SELECT
  CAST(count(*) AS BIGINT) AS n_keys_seen,
  CAST(count(*) FILTER (WHERE op = 'U') AS BIGINT) AS n_live,
  CAST(count(*) FILTER (WHERE op = 'D') AS BIGINT) AS n_tombstoned,
  CAST(coalesce(sum(cents) FILTER (WHERE op = 'U'), 0) AS BIGINT)
    AS live_cents
FROM latest WHERE rn = 1
""",
    tags=("G3", "E2"),
)
def etl_log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction with tombstones — the Kafka-compacted-topic /
    CDC-merge semantic: replay a change log (upserts + deletes per
    key), keep only each key's LATEST operation, and drop keys whose
    latest op is a delete (the tombstone actually removes the row —
    the semantics plain keep-latest dedup doesn't have). Events stand
    in for the log: 'view' rows are deletes, everything else upserts;
    latest-wins is full-key deterministic ((ts, event_id) DESC). One
    window on the key shuffle; at scale this is exactly the
    merge-on-read compaction pass a lakehouse table service runs."""
    e = load_table(spark, sf_dir, "events")
    log = e.select(
        "event_id",
        F.col("user_id").alias("key"),
        F.col("ts"),
        F.when(F.col("event_type") == "view", "D").otherwise("U").alias("op"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = Window.partitionBy("key").orderBy(F.desc("ts"), F.desc("event_id"))
    latest = log.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return latest.agg(
        F.count("*").alias("n_keys_seen"),
        F.count(F.when(F.col("op") == "U", 1)).alias("n_live"),
        F.count(F.when(F.col("op") == "D", 1)).alias("n_tombstoned"),
        F.coalesce(
            F.sum(F.when(F.col("op") == "U", F.col("cents"))), F.lit(0)
        ).alias("live_cents"),
    )


@register(
    "etl_medallion",
    oracle="""
WITH bronze AS (
  SELECT *, try_cast(props AS JSON) IS NOT NULL AS props_ok FROM events
),
silver AS (
  SELECT event_id, user_id, epoch_us(ts) AS us, event_type,
    CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM bronze
  WHERE props_ok AND value >= 0 AND user_id IS NOT NULL
),
gold AS (
  SELECT event_type, count(*) AS n, sum(cents) AS cents
  FROM silver GROUP BY event_type
)
SELECT
  CAST((SELECT count(*) FROM bronze) AS BIGINT) AS bronze_rows,
  CAST((SELECT count(*) FROM bronze WHERE NOT (props_ok AND value >= 0
        AND user_id IS NOT NULL)) AS BIGINT) AS quarantined,
  CAST((SELECT count(*) FROM silver) AS BIGINT) AS silver_rows,
  CAST((SELECT count(*) FROM gold) AS BIGINT) AS gold_groups,
  CAST((SELECT sum(n) FROM gold) AS BIGINT) AS gold_total_rows,
  ((SELECT count(*) FROM silver) +
   (SELECT count(*) FROM bronze WHERE NOT (props_ok AND value >= 0
        AND user_id IS NOT NULL))
   = (SELECT count(*) FROM bronze)) AS bronze_conserved,
  ((SELECT sum(n) FROM gold) = (SELECT count(*) FROM silver))
    AS gold_conserved
""",
    tags=("L", "A5"),
)
def etl_medallion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The medallion architecture in one auditable pass: bronze = raw
    events with a validity verdict (parseable props JSON, non-negative
    value, present key), silver = the conformed typed layer (exact-µs
    time, integer cents) containing only valid rows, gold = the
    business aggregate. Two conservation laws are emitted in-plan —
    silver + quarantine = bronze, and gold's row total = silver — the
    checks that make a layered lakehouse trustworthy rather than
    aspirational. Each layer derives from the previous one's frame
    (one scan; the bronze validity verdict is computed once and
    reused, not recomputed per layer)."""
    bronze = load_table(spark, sf_dir, "events").withColumn(
        "props_ok", F.try_parse_json(F.col("props")).isNotNull()
    )
    valid = (
        F.col("props_ok")
        & (F.col("value") >= 0)
        & F.col("user_id").isNotNull()
    )
    silver = bronze.filter(valid).select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    gold = silver.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("cents").alias("cents")
    )
    b = bronze.agg(
        F.count("*").alias("bronze_rows"),
        F.count(F.when(~valid, 1)).alias("quarantined"),
    )
    s = silver.agg(F.count("*").alias("silver_rows"))
    g = gold.agg(
        F.count("*").alias("gold_groups"),
        F.sum("n").alias("gold_total_rows"),
    )
    return (
        b.crossJoin(s)
        .crossJoin(g)
        .select(
            "bronze_rows",
            "quarantined",
            "silver_rows",
            "gold_groups",
            "gold_total_rows",
            (
                F.col("silver_rows") + F.col("quarantined")
                == F.col("bronze_rows")
            ).alias("bronze_conserved"),
            (F.col("gold_total_rows") == F.col("silver_rows")).alias(
                "gold_conserved"
            ),
        )
    )


@register(
    "etl_ivm_retract",
    oracle="""
WITH base AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 7),
delta_ins AS (SELECT * FROM orders WHERE o_orderkey % 10 = 7),
delta_del AS (SELECT * FROM base WHERE o_orderkey % 10 = 3),
view_base AS (
  SELECT o_orderpriority AS pri, count(*) AS n,
    sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
  FROM base GROUP BY pri
),
weighted_delta AS (
  SELECT o_orderpriority AS pri, 1 AS w,
    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
  FROM delta_ins
  UNION ALL
  SELECT o_orderpriority, -1,
    -CAST(round(o_totalprice * 100, 0) AS BIGINT)
  FROM delta_del
),
delta_agg AS (
  SELECT pri, sum(w) AS dn, sum(c) AS dc FROM weighted_delta GROUP BY pri
),
maintained AS (
  SELECT coalesce(v.pri, d.pri) AS pri,
    coalesce(v.n, 0) + coalesce(d.dn, 0) AS n,
    coalesce(v.cents, 0) + coalesce(d.dc, 0) AS cents
  FROM view_base v FULL JOIN delta_agg d ON v.pri = d.pri
),
truth AS (
  SELECT o_orderpriority AS pri, count(*) AS n,
    sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
  FROM (
    SELECT * FROM base WHERE o_orderkey % 10 <> 3
    UNION ALL SELECT * FROM delta_ins
  ) GROUP BY pri
)
SELECT m.pri,
  CAST(m.n AS BIGINT) AS n_orders,
  CAST(m.cents AS BIGINT) AS cents,
  (m.n = t.n AND m.cents = t.cents) AS ivm_matches_recompute
FROM maintained m JOIN truth t ON m.pri = t.pri
WHERE m.n > 0
ORDER BY m.pri
""",
    tags=("D1", "G1", "L"),
)
def etl_ivm_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance with RETRACTIONS: a materialized
    per-priority aggregate is maintained by merging a weighted delta
    (+1 rows for inserts, −1 rows with negated measures for deletes)
    instead of recomputing — the Flink/Materialize algebra, and the
    only affordable way to keep a 100 TB rollup fresh under updates.
    The maintained view is then compared group-by-group against a
    full recompute of the post-delta table; the boolean must be TRUE
    everywhere. The delta aggregate touches only |delta| rows — the
    base table is read once for the initial view, never again."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    base = o.filter(F.col("o_orderkey") % 10 != 7)
    delta_ins = o.filter(F.col("o_orderkey") % 10 == 7)
    delta_del = base.filter(F.col("o_orderkey") % 10 == 3)
    view_base = base.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count("*").alias("n"), F.sum(cents).alias("cents")
    )
    weighted = delta_ins.select(
        F.col("o_orderpriority").alias("pri"),
        F.lit(1).alias("w"),
        cents.alias("c"),
    ).unionAll(
        delta_del.select(
            F.col("o_orderpriority").alias("pri"),
            F.lit(-1).alias("w"),
            (-cents).alias("c"),
        )
    )
    delta_agg = weighted.groupBy("pri").agg(
        F.sum("w").alias("dn"), F.sum("c").alias("dc")
    )
    maintained = (
        view_base.join(delta_agg, "pri", "full")
        .select(
            "pri",
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
            (F.coalesce("cents", F.lit(0)) + F.coalesce("dc", F.lit(0))).alias(
                "cents"
            ),
        )
    )
    truth = (
        base.filter(F.col("o_orderkey") % 10 != 3)
        .unionAll(delta_ins)
        .groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(F.count("*").alias("tn"), F.sum(cents).alias("tcents"))
    )
    return (
        maintained.join(truth, "pri")
        .filter(F.col("n") > 0)
        .select(
            "pri",
            F.col("n").alias("n_orders"),
            "cents",
            (
                (F.col("n") == F.col("tn")) & (F.col("cents") == F.col("tcents"))
            ).alias("ivm_matches_recompute"),
        )
        .orderBy("pri")
    )


@register(
    "etl_partition_plan_lpt",
    oracle="""
WITH loads AS (
  SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events GROUP BY d
)
SELECT
  CAST((SELECT count(*) FROM loads) AS BIGINT) AS n_keys,
  CAST((SELECT sum(n) FROM loads) AS BIGINT) AS total_rows,
  CAST(8 AS BIGINT) AS n_buckets,
  TRUE AS conserved,
  TRUE AS balanced_ok
""",
    tags=("L", "D1"),
)
def etl_partition_plan_lpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition rebalancing planner: given per-day row counts (the
    hot-key census a repartition job runs first), assign keys to 8
    buckets with the LPT greedy (largest key into the currently
    lightest bucket) — the deterministic plan a pipeline uses to remap
    skewed partitions before a heavy shuffle. The key census is
    distributed; the greedy runs driver-side on the BOUNDED key list
    (days, not rows). In-plan proofs the oracle pins: conservation
    (bucket loads sum to the total row count — a dropped key would
    break it) and the LPT balance guarantee max ≤ 4/3·OPT ≤
    4/3·(total/buckets) + max single key."""
    e = load_table(spark, sf_dir, "events")
    loads = (
        e.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("n"))
        .collect()  # bounded: one row per day
    )
    n_buckets = 8
    buckets = [0] * n_buckets
    assign: list[tuple[str, int, int]] = []
    for row in sorted(loads, key=lambda r: (-r["n"], str(r["d"]))):
        i = min(range(n_buckets), key=lambda j: (buckets[j], j))
        buckets[i] += row["n"]
        assign.append((str(row["d"]), i, row["n"]))
    total = sum(b for b in buckets)
    max_load = max(buckets)
    max_key = max(r["n"] for r in loads) if loads else 0
    bound = (4 * (total // n_buckets + max_key)) // 3 + 1
    plan = local_df(spark, assign, "d string, bucket int, n long")
    agg = plan.agg(
        F.countDistinct("d").alias("n_keys"),
        F.sum("n").alias("total_rows"),
    )
    return agg.select(
        "n_keys",
        "total_rows",
        F.lit(n_buckets).cast("long").alias("n_buckets"),
        # sum over an empty plan is NULL; an empty plan conserves
        # trivially (0 rows planned, 0 rows held)
        (F.coalesce(F.col("total_rows"), F.lit(0)) == F.lit(total)).alias(
            "conserved"
        ),
        F.lit(bool(max_load <= bound)).alias("balanced_ok"),
    )


@register(
    "etl_deletion_vectors",
    oracle="""
WITH base AS (
  SELECT o_orderkey,
    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
live AS (SELECT * FROM base WHERE o_orderkey % 13 <> 0)
SELECT
  CAST((SELECT count(*) FROM base) AS BIGINT) AS base_rows,
  CAST((SELECT count(*) FROM base WHERE o_orderkey % 13 = 0) AS BIGINT)
    AS deleted_rows,
  CAST((SELECT count(*) FROM live) AS BIGINT) AS live_rows,
  CAST((SELECT sum(cents) FROM live) AS BIGINT) AS live_cents,
  TRUE AS base_untouched
""",
    tags=("A5", "G3", "L"),
)
def etl_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion vectors — merge-on-read DELETE from primitives (the
    companion to a_time_travel_versions' manifest commits): the base
    parquet is written ONCE with a stable row position, a DELETE
    writes only a tiny position-bitmap file (here: positions of
    orderkey % 13 == 0), and every read applies the vector as an
    anti-join on position. The base file's md5 before and after the
    delete proves immutability — the property that makes logical
    deletes cheap (no rewrite) and time travel trivial (drop the
    vector to read the old version). A physical-rewrite compaction
    (gdpr_erasure's shape) subsumes the vector later."""
    root = scratch("deletion_vectors")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base_path = os.path.join(root, "base")
    # Per-file addressing, exactly as Delta/Iceberg store it: each
    # row's address is (file_id, pos-within-file), file_id taken from
    # the scan partition (the input split — production's data file).
    # Position assignment is a window partitioned by file_id — ONE
    # hash shuffle, then a per-partition sort, linear in rows/file at
    # any total scale. (The round-6 demo layout used a single global
    # Window.orderBy + coalesce(1): one task, 6.6x at 100x — this is
    # the documented production fix.)
    clustered = o.withColumn("file_id", F.spark_partition_id())
    w = Window.partitionBy("file_id").orderBy("o_orderkey")
    clustered.withColumn("pos", F.row_number().over(w)).write.mode(
        "overwrite"
    ).parquet(base_path)

    def file_md5s(path: str) -> dict[str, str]:
        import hashlib

        out = {}
        for fn in sorted(os.listdir(path)):
            if fn.endswith(".parquet"):
                with open(os.path.join(path, fn), "rb") as f:
                    out[fn] = hashlib.md5(f.read()).hexdigest()
        return out

    before = file_md5s(base_path)
    base = spark.read.parquet(base_path)
    # the DELETE: write only the deleted (file_id, pos) addresses —
    # one tiny vector per base file, no shuffle (filter preserves the
    # base's file-aligned partitioning)
    dv_path = os.path.join(root, "dv_v1")
    base.filter(F.col("o_orderkey") % 13 == 0).select(
        "file_id", "pos"
    ).write.mode("overwrite").parquet(dv_path)
    after = file_md5s(base_path)
    assert before == after, "base files must be untouched by a logical delete"
    dv = spark.read.parquet(dv_path)
    # read-time apply: anti-join on the composite per-file address
    live = base.join(dv, ["file_id", "pos"], "left_anti")
    return (
        base.agg(F.count("*").alias("base_rows"))
        .crossJoin(dv.agg(F.count("*").alias("deleted_rows")))
        .crossJoin(
            live.agg(
                F.count("*").alias("live_rows"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100, 0).cast("long")
                ).alias("live_cents"),
            )
        )
        .select(
            "base_rows",
            "deleted_rows",
            "live_rows",
            "live_cents",
            F.lit(bool(before == after)).alias("base_untouched"),
        )
    )


@register(
    "etl_orphan_gc",
    oracle="""
SELECT
  CAST(count(*) AS BIGINT) AS live_rows,
  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
    AS live_cents,
  TRUE AS orphans_found,
  TRUE AS read_unaffected
FROM orders WHERE o_orderkey % 4 = 0
""",
    tags=("A5", "L"),
)
def etl_orphan_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-file GC — the VACUUM completing the lakehouse trio
    (manifests = a_time_travel_versions, logical deletes =
    etl_deletion_vectors): the data directory accumulates files that
    NO manifest references (failed-job leftovers, compacted-away
    inputs); GC lists the directory, anti-joins against the manifest's
    file set driver-side, deletes the orphans, and the manifest read
    must return byte-identical results before and after (the safety
    property that makes VACUUM runnable anytime). Here: committed
    files hold orderkey%4==0; two orphan files (other residues) are
    planted; the in-plan booleans prove orphans existed and the
    post-GC read equals the pre-GC read."""
    root = scratch("orphan_gc")
    data = os.path.join(root, "data")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    committed_dir = os.path.join(data, "committed")
    o.filter(F.col("o_orderkey") % 4 == 0).write.mode("overwrite").parquet(
        committed_dir
    )
    committed = sorted(
        os.path.join(committed_dir, f)
        for f in os.listdir(committed_dir)
        if f.endswith(".parquet")
    )
    os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
    with open(os.path.join(root, "_manifests", "current.json"), "w") as f:
        json.dump({"files": committed}, f)
    # plant orphans: uncommitted leftovers in the same tree
    orphan_dir = os.path.join(data, "failed_job")
    o.filter(F.col("o_orderkey") % 4 == 1).limit(100).write.mode(
        "overwrite"
    ).parquet(orphan_dir)
    # an EMPTY source writes no part files above — plant one synthetic
    # orphan so the GC invariant (orphans_found) holds on any input
    spark.range(1).select(
        F.lit(-1).cast("long").alias("o_orderkey"),
        F.lit(0.0).alias("o_totalprice"),
    ).write.mode("overwrite").parquet(os.path.join(data, "failed_job2"))

    def read_manifest() -> DataFrame:
        with open(os.path.join(root, "_manifests", "current.json")) as f:
            files = json.load(f)["files"]
        if not files:  # empty commit: no part files were written
            return spark.createDataFrame([], o.schema)
        return spark.read.parquet(*files)

    before = read_manifest().agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("c"),
    ).collect()[0]
    # GC: everything under data/ not in the manifest is an orphan
    on_disk = set()
    for dirpath, _dirs, files in os.walk(data):
        for fn in files:
            if fn.endswith(".parquet"):
                on_disk.add(os.path.join(dirpath, fn))
    orphans = on_disk - set(committed)
    assert orphans, "test setup must plant at least one orphan"
    for path in orphans:
        os.remove(path)
    after = read_manifest().agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("c"),
    ).collect()[0]
    return local_df(
        spark,
        [
            (
                int(after["n"]),
                # sum over an empty commit is NULL — keep it NULL
                int(after["c"]) if after["c"] is not None else None,
                bool(len(orphans) > 0),
                bool(
                    before["n"] == after["n"] and before["c"] == after["c"]
                ),
            )
        ],
        "live_rows long, live_cents long, orphans_found boolean,"
        " read_unaffected boolean",
    )
