"""Round-4 widening batch 80: mutual information between categorical
columns (quantized-log cells, the dependence measure feature selection
uses), keyset pagination (the LIMIT/OFFSET replacement that scales),
and parquet codec control with footer-level proof.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.registry import register


@register(
    "d_mutual_information",
    oracle="""
WITH cells AS (
  SELECT lang, source, count(*) AS nij FROM documents GROUP BY lang, source
),
marg AS (
  SELECT c.lang, c.source, c.nij,
    sum(c.nij) OVER (PARTITION BY c.lang) AS ni,
    sum(c.nij) OVER (PARTITION BY c.source) AS nj,
    sum(c.nij) OVER () AS n
  FROM cells c
),
q AS (
  SELECT nij,
    CAST(round(ln(CAST(nij AS DOUBLE) * n / (ni * nj)) * 1000000, 0)
         AS BIGINT) AS pmi_micro
  FROM marg
)
SELECT
  CAST(sum(nij * pmi_micro) AS BIGINT) AS mi_weighted_micro,
  CAST(count(*) AS BIGINT) AS n_cells,
  CAST(max(pmi_micro) AS BIGINT) AS max_pmi_micro,
  CAST(min(pmi_micro) AS BIGINT) AS min_pmi_micro
FROM q
""",
    tags=("D8", "J2"),
)
def d_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between lang and source over the corpus —
    the dependence score used to decide whether a metadata column
    carries signal. MI·N = Σ n_ij·ln(n_ij·N/(n_i·n_j)): each cell's
    log runs ONCE on an integer-ratio argument and is quantized to
    micro-nats immediately (the j_intrinsic_dimension convention —
    summation is then order-free integer math, immune to float
    reassociation across engines). Cell count is |langs|×|sources| —
    tiny at any corpus size; the only corpus-scale work is the first
    groupBy."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count("*").alias("nij"))
    from pyspark.sql import Window

    marg = cells.select(
        "nij",
        F.sum("nij").over(Window.partitionBy("lang")).alias("ni"),
        F.sum("nij").over(Window.partitionBy("source")).alias("nj"),
        F.sum("nij").over(Window.partitionBy()).alias("n"),
    )
    pmi_micro = F.round(
        F.log(
            F.col("nij").cast("double")
            * F.col("n")
            / (F.col("ni") * F.col("nj"))
        )
        * 1000000,
        0,
    ).cast("long")
    q = marg.select("nij", pmi_micro.alias("pmi_micro"))
    return q.agg(
        F.sum(F.col("nij") * F.col("pmi_micro")).alias("mi_weighted_micro"),
        F.count("*").alias("n_cells"),
        F.max("pmi_micro").alias("max_pmi_micro"),
        F.min("pmi_micro").alias("min_pmi_micro"),
    )


@register(
    "f_keyset_pagination",
    oracle="""
WITH pages AS (
  SELECT o_orderkey, o_orderdate, o_totalprice,
    row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
)
SELECT o_orderkey,
  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
FROM pages WHERE rn > 40 AND rn <= 60
ORDER BY o_orderdate, o_orderkey
""",
    tags=("F2", "F1"),
)
def f_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek) pagination — the OFFSET replacement that survives
    deep pages: page 3 (rows 41-60 by (o_orderdate, o_orderkey)) is
    fetched by seeking past the last key of page 2 with a tuple
    comparison, then LIMIT 20. OFFSET n must *produce and discard* n
    rows on every page (cost grows linearly with page depth); the
    keyset predicate pushes to the scan and the plan is a plain
    filtered top-k at any depth. The anchor key is obtained the way a
    real paginated API holds it: the previous page's last row (one
    bounded collect of a 20-row page). Oracle cross-checks against
    the row_number formulation."""
    o = load_table(spark, sf_dir, "orders")
    page2_rows = (
        o.orderBy("o_orderdate", "o_orderkey")
        .limit(40)
        .orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
        .limit(1)
        .select("o_orderdate", "o_orderkey")
        .collect()
    )
    if page2_rows:
        ad, ak = page2_rows[0]["o_orderdate"], page2_rows[0]["o_orderkey"]
        seek = (F.col("o_orderdate") > F.lit(ad)) | (
            (F.col("o_orderdate") == F.lit(ad)) & (F.col("o_orderkey") > ak)
        )
    else:
        # no page-2 anchor exists (table smaller than two pages):
        # page 3 is empty, same as the oracle's row_number window
        seek = F.lit(False)
    return (
        o.filter(seek)
        .orderBy("o_orderdate", "o_orderkey")
        .limit(20)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
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
