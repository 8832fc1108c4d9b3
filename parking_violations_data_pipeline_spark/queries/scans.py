"""A-family entries: scans, sources and sinks. File formats (CSV, JSON, ORC,
Avro, XML, binary files) and their parse modes, Python data sources,
catalog DDL and table statistics, time travel, and partition layout
audits.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table, register_views, scratch
from parking_violations_data_pipeline_spark.functions.localrel import local_df
from parking_violations_data_pipeline_spark.registry import register


@register(
    "a_python_datasource",
    oracle="""
WITH days AS (
  SELECT unnest(generate_series(0, 364)) AS day
),
ccy AS (
  SELECT * FROM (VALUES ('CNY', 0), ('EUR', 1), ('GBP', 2), ('JPY', 3), ('USD', 4))
    AS t(ccy, i)
),
rates AS (
  SELECT c.ccy, d.day,
         1000000 + ((d.day * 31 + c.i * 9973) * 7919) % 250000 AS rate_micro
  FROM days d CROSS JOIN ccy c
)
SELECT ccy,
  CAST(count(*) AS BIGINT)        AS n_days,
  CAST(min(rate_micro) AS BIGINT) AS min_rate,
  CAST(max(rate_micro) AS BIGINT) AS max_rate,
  CAST(sum(rate_micro) AS BIGINT) AS sum_rate
FROM rates GROUP BY ccy ORDER BY ccy
""",
    tags=("A1", "A2", "K2"),
)
def a_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource API end-to-end: register a custom
    format implemented purely in Python (sources/pyds.py), read it
    with `spark.read.format("synthetic_rates")`, aggregate. The
    reader plans 12 monthly InputPartitions, so the scan runs as 12
    parallel Python worker tasks — the same partition-count-is-
    parallelism contract as file sources, which is what makes a
    Python source viable at scale (each partition streams rows via
    Arrow, no driver funnel).

    The payload is integer-exact by design, so the oracle replays the
    generator formula in SQL and the driver hash must match bit for
    bit — proving the custom-source path loses nothing.
    """
    from parking_violations_data_pipeline_spark.sources.pyds import RatesDataSource

    from parking_violations_data_pipeline_spark.sources.pyds import (
        register_python_datasource,
    )

    register_python_datasource(spark, RatesDataSource)
    from parking_violations_data_pipeline_spark.sources.pyds import (
        load_python_datasource,
    )
    rates = (
        load_python_datasource(spark, "synthetic_rates", n_days="365")
    )
    return (
        rates.groupBy("ccy")
        .agg(
            F.count("*").alias("n_days"),
            F.min("rate_micro").alias("min_rate"),
            F.max("rate_micro").alias("max_rate"),
            F.sum("rate_micro").alias("sum_rate"),
        )
        .orderBy("ccy")
    )


@register(
    "a_file_metadata_audit",
    oracle="""
SELECT o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(1 AS BIGINT) AS n_files,
  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    tags=("A1", "A5", "H1"),
)
def a_file_metadata_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level lineage through the `_metadata` hidden column:
    orders are written hive-partitioned by priority (repartitioned on
    the partition key first, so each partition value lands in exactly
    ONE task → one file), then re-read with
    `_metadata.file_path` to audit rows-per-file and files-per-
    partition — the small-files / lineage check a lakehouse runs
    after every backfill. The MEASURED n_files (distinct file paths
    seen per partition) must equal the clustered-write invariant of
    1; row counts and cent totals prove content survived the
    round-trip. Partition value is recovered from the file PATH
    (regexp over the hive dir name), not from a data column — that's
    the lineage surface being exercised.
    """
    path = scratch("file_metadata_audit")
    o = load_table(spark, sf_dir, "orders")
    (
        o.repartition(5, "o_orderpriority")
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(path)
    )
    back = spark.read.schema(o.schema).parquet(path).select(
        F.col("_metadata.file_path").alias("fp"),
        "o_totalprice",
    )
    part = F.regexp_extract(F.col("fp"), r"o_orderpriority=([^/]+)", 1)
    # hive dir names URL-encode spaces etc.; decode to match the source;
    # a NULL partition value writes __HIVE_DEFAULT_PARTITION__ — map it
    # back to NULL so the lineage grouping matches the source data
    decoded = F.when(
        part == "__HIVE_DEFAULT_PARTITION__", F.lit(None).cast("string")
    ).otherwise(F.url_decode(part))
    return (
        back.groupBy(decoded.alias("o_orderpriority"))
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("fp").alias("n_files"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "a_python_datasource_write",
    oracle="""
SELECT o_orderpriority AS priority,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
  TRUE AS manifest_ok
FROM orders GROUP BY o_orderpriority ORDER BY priority
""",
    tags=("A5", "K4"),
)
def a_python_datasource_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python DataSource API WRITE path (the read path is
    a_python_datasource): orders flow into a custom `integer_ledger`
    sink whose tasks each write one JSON-lines shard and report
    (rows, cents) in their WriterCommitMessage; the driver-side
    commit() folds the messages into a _MANIFEST — the two-phase
    commit contract (shards become authoritative only when the
    manifest lands; abort() deletes orphans). The query re-reads the
    shards, re-aggregates, and cross-checks the manifest totals
    in-plan (manifest_ok) — proving both the per-task write path and
    the driver-side commit fold.
    """
    from parking_violations_data_pipeline_spark.sources.pyds import LedgerDataSource

    from parking_violations_data_pipeline_spark.sources.pyds import (
        register_python_datasource,
    )

    register_python_datasource(spark, LedgerDataSource)
    from parking_violations_data_pipeline_spark.sources.pyds import (
        save_python_datasource,
    )
    path = scratch("pyds_ledger_out")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    save_python_datasource(o, "integer_ledger", mode="append", path=path)

    with open(os.path.join(path, "_MANIFEST.json")) as fh:
        man = json.load(fh)
    back = spark.read.schema("priority string, cents long").json(
        os.path.join(path, "part-*.jsonl")
    )
    totals = back.agg(
        F.count("*").alias("tn"), F.sum("cents").alias("tc")
    ).collect()[0]
    # SQL sum over zero non-NULL cents is NULL; the ledger manifest
    # records 0 — coalesce before comparing the two folds
    manifest_ok = bool(
        man["n_rows"] == totals["tn"]
        and man["cents"] == (totals["tc"] if totals["tc"] is not None else 0)
    )
    return (
        back.groupBy("priority")
        .agg(F.count("*").alias("n_rows"), F.sum("cents").alias("cents"))
        .withColumn("manifest_ok", F.lit(manifest_ok))
        .orderBy("priority")
    )


@register(
    "a_sql_ddl_catalog",
    oracle="""
WITH base AS (
  SELECT o_orderpriority,
    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
both_halves AS (
  SELECT * FROM base WHERE cents % 2 = 0
  UNION ALL
  SELECT * FROM base WHERE cents % 2 = 1
)
SELECT o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(cents) AS BIGINT) AS cents,
  TRUE AS catalog_ok
FROM both_halves GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    tags=("A5", "A1", "B1"),
)
def a_sql_ddl_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog/DDL surface end-to-end: CREATE TABLE AS SELECT (the
    even-cent half), INSERT INTO (the odd-cent half), then reading
    back through `spark.table` — the managed-table lifecycle every
    warehouse job uses instead of raw paths. catalog_ok additionally
    proves the introspection surface: the table is visible in
    spark.catalog.listTables and its column set matches before DROP
    TABLE cleans up. The oracle rebuilds both halves from the source,
    so the CTAS+INSERT union must be exactly row-complete (no
    double-insert, no missed half).
    """
    import os as _os

    tbl = f"ddl_ledger_{_os.getpid()}"  # per-process: warehouse dir is shared
    register_views(spark, sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(
        f"""
CREATE TABLE {tbl} USING parquet AS
SELECT o_orderpriority, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
FROM orders WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) % 2 = 0
"""
    )
    spark.sql(
        f"""
INSERT INTO {tbl}
SELECT o_orderpriority, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
FROM orders WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) % 2 = 1
"""
    )
    tables = [t.name for t in spark.catalog.listTables()]
    cols = [c.name for c in spark.catalog.listColumns(tbl)]
    catalog_ok = (tbl in tables) and (cols == ["o_orderpriority", "cents"])
    out = (
        spark.table(tbl)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_rows"), F.sum("cents").alias("cents"))
        .withColumn("catalog_ok", F.lit(bool(catalog_ok)))
        .orderBy("o_orderpriority")
    )
    rows = out.collect()  # materialize before dropping the table
    spark.sql(f"DROP TABLE {tbl}")
    return local_df(spark, rows, out.schema)


@register(
    "a_analyze_stats",
    oracle="""
SELECT o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_rows,
  TRUE AS stats_ok
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    tags=("A5", "A1"),
)
def a_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cost-based-optimizer statistics surface: CTAS a managed
    table, run ANALYZE TABLE ... COMPUTE STATISTICS, and read the
    recorded rowCount back out of DESCRIBE TABLE EXTENDED — the
    feedback loop that powers CBO join reordering and broadcast
    decisions. stats_ok asserts the ANALYZE-recorded row count
    equals the true count (a stale or missing statistic silently
    degrades every downstream plan, which is why warehouses audit
    it).
    """
    import os as _os

    tbl = f"stats_probe_{_os.getpid()}"  # per-process: warehouse dir is shared
    register_views(spark, sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(
        f"CREATE TABLE {tbl} USING parquet AS"
        " SELECT o_orderpriority FROM orders"
    )
    spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
    desc = spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
    stats_line = next(
        (r["data_type"] for r in desc if r["col_name"] == "Statistics"), ""
    )
    m = re.search(r"(\d+)\s+rows", stats_line)
    analyzed_rows = int(m.group(1)) if m else -1
    true_rows = spark.table(tbl).count()
    stats_ok = analyzed_rows == true_rows
    out = (
        spark.table(tbl)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_rows"))
        .withColumn("stats_ok", F.lit(bool(stats_ok)))
        .orderBy("o_orderpriority")
    )
    rows = out.collect()
    spark.sql(f"DROP TABLE {tbl}")
    return local_df(spark, rows, out.schema)


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


@register(
    "a_orc_roundtrip",
    oracle="""
SELECT o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    tags=("A1", "A5"),
)
def a_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip — the second columnar format Spark ships
    natively (predicate pushdown, column pruning and compression all
    apply): orders write to ORC and re-aggregate from the re-read;
    the oracle recomputes from the parquet source, so a green row
    proves the format conversion is LOSSLESS for every type crossed
    (string, timestamp-derived ints, exact cents). DuckDB cannot
    read ORC, which is exactly why the proof routes through
    aggregate equality instead of file-level diffing.
    """
    path = scratch("orc_roundtrip")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    o.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_rows"), F.sum("cents").alias("cents"))
        .orderBy("o_orderpriority")
    )


@register(
    "a_partition_balance",
    oracle="""
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(8 AS BIGINT) AS n_partitions,
  TRUE AS balanced
FROM lineitem
""",
    tags=("A1", "F1", "C9"),
)
def a_partition_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partition balance audit: lineitem repartitioned by range
    on its key into 8 partitions, then per-partition row counts
    MEASURED via spark_partition_id() — the skew check run before
    committing to a range layout (a hot key range starves the
    cluster; range partitioning samples quantiles precisely to avoid
    that). The physical ids are engine-internal, so the emitted
    contract is the invariant: no partition holds more than 2× the
    ideal share, and the partition count and total row count are
    exact.
    """
    l = load_table(spark, sf_dir, "lineitem")
    parts = (
        l.repartitionByRange(8, "l_orderkey", "l_linenumber")
        .select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    n_rows = sum(r["n"] for r in parts)
    # report the REQUESTED partition count (the layout contract, what
    # the oracle pins); `parts` only contains OCCUPIED partitions, so
    # a tiny/empty input would otherwise under-report the layout
    n_partitions = 8
    ideal = n_rows / n_partitions
    # 2× the ideal share, with a small absolute floor: below ~64 rows
    # a "partition" of a handful of rows is never skew, it's just a
    # tiny input that cannot spread 8 ways
    balanced = all(r["n"] <= max(2 * ideal, 64) for r in parts)
    return local_df(
        spark,
        [(n_rows, n_partitions, bool(balanced))],
        "n_rows long, n_partitions long, balanced boolean",
    )


@register(
    "a_nested_views",
    oracle="""
WITH v_base AS (
  SELECT o_orderpriority, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders WHERE o_orderstatus = 'O'
),
v_agg AS (
  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS cents
  FROM v_base GROUP BY o_orderpriority
)
SELECT o_orderpriority, n, cents FROM v_agg ORDER BY o_orderpriority
""",
    tags=("A1", "B1"),
)
def a_nested_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested view resolution: a filter view, an aggregate view
    DEFINED OVER the first, and a query through the top — the
    layered semantic-model stack (staging → mart → report) resolved
    by the catalog at query time, with filters and pruning pushed
    through BOTH view layers by the optimizer (views are macros to
    Catalyst, not materialization boundaries). The oracle flattens
    the same stack as CTEs.
    """
    register_views(spark, sf_dir)
    spark.sql(
        """
CREATE OR REPLACE TEMP VIEW v_base AS
SELECT o_orderpriority, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
FROM orders WHERE o_orderstatus = 'O'
"""
    )
    spark.sql(
        """
CREATE OR REPLACE TEMP VIEW v_agg AS
SELECT o_orderpriority, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
FROM v_base GROUP BY o_orderpriority
"""
    )
    return spark.sql(
        "SELECT o_orderpriority, CAST(n AS BIGINT) AS n, cents FROM v_agg"
        " ORDER BY o_orderpriority"
    )


@register(
    "a_json_schema_inference",
    oracle="""
WITH expected(col_name, inferred_type) AS (
  VALUES
    ('active', 'boolean'),
    ('amount', 'double'),
    ('id',     'bigint'),
    ('name',   'string'),
    ('tags',   'string')
)
SELECT col_name, inferred_type FROM expected ORDER BY col_name
""",
    tags=("A3", "B2"),
)
def a_json_schema_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON schema INFERENCE pinned as data: a JSONL file mixing
    integer, float, boolean, string and a mixed-type column is read
    with inference on, and the resulting (column, type) table must
    match the documented contract — integers widen to bigint, any
    float occurrence promotes the column to double, and a column
    mixing scalars with other shapes falls back to string. Production
    loaders lean on these rules implicitly; pinning them as data
    turns a silent engine-upgrade change into a red row.
    """
    path = scratch("json_infer")
    os.makedirs(path, exist_ok=True)
    lines = [
        '{"id": 1, "amount": 10, "active": true, "name": "a", "tags": "x"}',
        '{"id": 2, "amount": 10.5, "active": false, "name": "b", "tags": 7}',
        '{"id": 3, "amount": 3, "active": true, "name": "c", "tags": "y"}',
    ]
    with open(os.path.join(path, "data.jsonl"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    df = spark.read.json(path)
    rows = sorted((name, dtype) for name, dtype in df.dtypes)
    return local_df(spark, rows, "col_name string, inferred_type string").orderBy(
        "col_name"
    )


@register(
    "a_python_datasource_stream",
    oracle="""
WITH days AS (SELECT unnest(generate_series(0, 364)) AS day),
ccys AS (SELECT * FROM (VALUES (0, 'CNY'), (1, 'EUR'), (2, 'GBP'), (3, 'JPY'), (4, 'USD')) AS t(i, ccy)),
rates AS (
  SELECT d.day, c.ccy,
    1000000 + ((d.day * 31 + c.i * 9973) * 7919) % 250000 AS rate_micro
  FROM days d CROSS JOIN ccys c
)
SELECT ccy,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(rate_micro) AS BIGINT) AS sum_rate_micro,
  CAST(max(rate_micro) AS BIGINT) AS max_rate_micro
FROM rates GROUP BY ccy ORDER BY ccy
""",
    tags=("A6", "K4", "I8"),
)
def a_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python STREAMING DataSource (the read-path sibling of
    a_python_datasource / a_python_datasource_write, completing the
    API surface): a SimpleDataSourceStreamReader serves the
    deterministic rate table in offset-tracked micro-batches
    (initialOffset → read → commit, 92-day stride → 4 batches under
    availableNow), and the drained sink must equal the closed-form
    relational replay — proving the offset contract delivered every
    row exactly once across batch boundaries. The formula is the
    same integer recurrence the oracle replays.
    """
    from parking_violations_data_pipeline_spark.sources.pyds import (
        RatesStreamDataSource,
    )

    from parking_violations_data_pipeline_spark.sources.pyds import (
        register_python_datasource,
    )

    register_python_datasource(spark, RatesStreamDataSource)
    from parking_violations_data_pipeline_spark.sources.pyds import (
        ensure_active_session,
    )

    # stream-source resolution shares the batch paths' dependence on
    # the JVM thread-local active session (see ensure_active_session)
    ensure_active_session(spark)
    s = (
        spark.readStream.format("synthetic_rates_stream")
        .option("n_days", "365")
        .option("stride", "92")
        .load()
    )
    # availableNow snapshots only the simple reader's FIRST prefetched
    # batch (measured: 1 of 4 batches drained) — processAllAvailable
    # keeps triggering until offsets stop advancing, which is the
    # correct drain for an offset-generating source
    import os as _os

    name = f"pyds_stream_{_os.getpid()}"
    ckpt = scratch(f"ckpt_{name}")
    q = (
        s.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.table(name)
    return (
        out.groupBy("ccy")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("rate_micro").alias("sum_rate_micro"),
            F.max("rate_micro").alias("max_rate_micro"),
        )
        .orderBy("ccy")
    )


@register(
    "a_csv_quoting_roundtrip",
    oracle="""
WITH expected(id, content_md5) AS (
  VALUES
    (CAST(1 AS BIGINT), md5('plain value')),
    (CAST(2 AS BIGINT), md5('has,comma')),
    (CAST(3 AS BIGINT), md5('has "quotes" inside')),
    (CAST(4 AS BIGINT), md5('line one' || chr(10) || 'line two')),
    (CAST(5 AS BIGINT), md5('trailing space '))
)
SELECT id, content_md5, TRUE AS roundtrip_ok FROM expected ORDER BY id
""",
    tags=("A2", "H1"),
)
def a_csv_quoting_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CSV quoting contract, round-tripped: values containing the
    delimiter, embedded double quotes (doubled per RFC 4180),
    embedded NEWLINES (multiLine=true on read), and trailing
    whitespace are written and re-read, and each value's md5 must
    match the original byte-for-byte — the parser corner-case suite
    that silently corrupts feeds when any default
    (quote/escape/multiLine/ignoreTrailingWhiteSpace) is wrong.
    roundtrip_ok measures equality in-plan; the oracle pins the
    expected digests from literal reconstruction.

    Round 8 (flushed by the independent stdlib reparse,
    tests/test_indep_sources_r8.py): Spark's DEFAULT escape char is
    backslash, so embedded quotes were written as `\"` — Spark
    re-reads its own dialect fine, but the artifact violates RFC 4180
    (doubled quotes) and stdlib csv / Excel / DuckDB would misparse
    it. The writer and reader now pin escape='"', making the written
    bytes RFC 4180; the interop contract is what the entry exists to
    prove.
    """
    values = [
        (1, "plain value"),
        (2, "has,comma"),
        (3, 'has "quotes" inside'),
        (4, "line one\nline two"),
        (5, "trailing space "),
    ]
    src = local_df(spark, values, "id long, content string")
    path = scratch("csv_quoting")
    (
        src.coalesce(1)
        .write.mode("overwrite")
        .option("quoteAll", "true")
        .option("escape", '"')  # RFC 4180 doubled quotes, not \"
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path, header=True)
    )
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .option("ignoreTrailingWhiteSpace", "false")
        .schema("id long, content string")
        .csv(path)
    )
    joined = src.select(
        F.col("id").alias("sid"), F.md5("content").alias("src_md5")
    ).join(back.select("id", F.md5("content").alias("back_md5")), F.col("sid") == F.col("id"))
    ok = joined.filter(F.col("src_md5") != F.col("back_md5")).count() == 0
    return (
        src.select("id", F.md5("content").alias("content_md5"))
        .withColumn("roundtrip_ok", F.lit(bool(ok)))
        .orderBy("id")
    )


@register(
    "a_binary_files",
    oracle="""
SELECT doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  md5(text) AS content_md5
FROM (
  -- one blob per id (the filename IS the identity): duplicate ids
  -- collapse to the min-text survivor; NULL text has no bytes to write
  SELECT doc_id, min(text) AS text
  FROM documents WHERE doc_id < 5 AND text IS NOT NULL
  GROUP BY doc_id
) ORDER BY doc_id
""",
    tags=("A1", "A5"),
)
def a_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source — how image/audio/video blobs enter the
    engine (one row per file: path, length, content bytes). Five
    documents are materialized as standalone .txt blobs, re-read
    through ``format("binaryFile")``, and proven byte-identical to
    the table they came from via length + md5 over the raw bytes
    (UTF-8 both sides). Scale note: binaryFile parallelizes per file
    and never splits one blob across tasks — the right unit for
    opaque media; metadata columns (length) come from the file
    status, free of content I/O."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 5) & F.col("text").isNotNull())
        # one blob per id: the filename is the identity, so duplicate
        # ids collapse deterministically to the min-text survivor
        .groupBy("doc_id")
        .agg(F.min("text").alias("text"))
        .collect()  # bounded: at most 5 rows, written as local blobs
    )
    path = scratch("binary_files")
    os.makedirs(path, exist_ok=True)
    for row in docs:
        with open(os.path.join(path, f"doc_{row['doc_id']:05d}.txt"), "wb") as f:
            f.write(row["text"].encode("utf-8"))
    bf = spark.read.format("binaryFile").load(path)
    return (
        bf.select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )
        .orderBy("doc_id")
    )


@register(
    "a_path_glob_recursive",
    oracle="""
SELECT NULLIF(lang, '') AS lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY NULLIF(lang, '') ORDER BY lang
""",
    tags=("A1", "A5"),
)
def a_path_glob_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-option surface: ``recursiveFileLookup`` + ``pathGlobFilter``
    — scanning a nested lake layout (lang=*/part-*.parquet plus a
    decoy .json sidecar per directory) without partition discovery.
    The glob keeps only parquet parts; recursion flattens the nesting;
    the decoys prove the filter actually excludes. Counts and char
    sums must reproduce the source table exactly. Scale note: file
    listing is driver-parallelized (InMemoryFileIndex) and the glob
    prunes before any footer read."""
    path = scratch("glob_recursive")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d.write.mode("overwrite").partitionBy("lang").parquet(path)
    # decoy sidecars that the glob must skip
    for sub in os.listdir(path):
        full = os.path.join(path, sub)
        if os.path.isdir(full):
            with open(os.path.join(full, "manifest.json"), "w") as f:
                f.write('{"decoy": true}')
    df = (
        spark.read.schema(d.drop("lang").schema)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(path)
    )
    # recursiveFileLookup disables partition inference: lang comes back
    # only if it was written into the files — it is not (partitionBy
    # drops it), so recover it from the directory name baked into the
    # file path via the metadata column. The hive layout conflates NULL
    # and '' into __HIVE_DEFAULT_PARTITION__ — both read back as NULL
    # (the oracle models the same with NULLIF(lang, '')); every other
    # value is URL-encoded in the dir name, so decode it.
    raw_part = F.regexp_extract(F.input_file_name(), r"lang=([^/]+)/", 1)
    return (
        df.withColumn(
            "lang",
            F.when(
                raw_part == "__HIVE_DEFAULT_PARTITION__",
                F.lit(None).cast("string"),
            ).otherwise(F.url_decode(raw_part)),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang")
    )


@register(
    "a_parquet_codecs",
    oracle="""
SELECT 'snappy' AS codec,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
    AS total_cents
FROM orders
UNION ALL
SELECT 'zstd',
  CAST(count(*) AS BIGINT),
  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
FROM orders
ORDER BY codec
""",
    tags=("A1", "A5"),
)
def a_parquet_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-codec control on the parquet sink: the same table
    written with snappy and with zstd must read back value-identical,
    and each file's footer must actually record the requested codec
    (verified via pyarrow metadata on the written files — the part a
    row-count check can't see). At 100 TB codec choice is a real
    knob: zstd trades ~2× smaller files for CPU; the engine must let
    the pipeline choose per-table."""
    import pyarrow.parquet as pq

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    out: list[DataFrame] = []
    for codec in ("snappy", "zstd"):
        path = scratch(f"codec_{codec}")
        o.write.mode("overwrite").option("compression", codec).parquet(path)
        # footer proof: every column chunk of every part file reports
        # the requested codec (bounded: file count, not row count)
        for fn in os.listdir(path):
            if fn.endswith(".parquet"):
                meta = pq.ParquetFile(os.path.join(path, fn)).metadata
                codecs = {
                    meta.row_group(rg).column(ci).compression.lower()
                    for rg in range(meta.num_row_groups)
                    for ci in range(meta.num_columns)
                }
                # an empty part file has zero row groups → no codec
                # recorded; only assert when chunks exist
                assert not codecs or codecs == {codec}, (
                    f"footer says {codecs}, wanted {codec}"
                )
        back = spark.read.schema(o.schema).parquet(path)
        out.append(
            back.agg(
                F.lit(codec).alias("codec"),
                F.count("*").alias("n_rows"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100, 0).cast("long")
                ).alias("total_cents"),
            )
        )
    return out[0].unionAll(out[1]).orderBy("codec")


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
