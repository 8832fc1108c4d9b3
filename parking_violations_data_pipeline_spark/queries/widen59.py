"""Round-3 widening batch 60: JSON schema-inference behavior pinned
as data, and the Python STREAMING DataSource surface (Spark 4
SimpleDataSourceStreamReader) driven through availableNow with
offset-tracked micro-batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.functions.localrel import local_df
from parking_violations_data_pipeline_spark.registry import register
from parking_violations_data_pipeline_spark.streaming.jobs import run_available_now


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
