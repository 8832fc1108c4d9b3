"""Reference-parity ETL composite queries (SURVEY.md §2 L, A2-A5).

Each entry chains plans/etl.py stages over the events fixture shaped
as violations and checks the END STATE against an oracle that
re-derives the same pipeline in SQL — the differential version of the
reference's "does the monthly publish look right".

Round-trip queries exercise real sinks+sources (A5→A2/A3): write to a
scratch dir under the repo, re-read, aggregate; the oracle aggregates
the original table directly, so a lossy write/read would fail the
value-hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import maybe_broadcast
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.plans import etl
from parking_violations_data_pipeline_spark.functions.localrel import local_df
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
