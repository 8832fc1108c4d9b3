"""Round-3 widening batch 27: corpus vocabulary-growth curve (Heaps'
law checkpointing), file-level lineage via the `_metadata` hidden
column (write → re-read → per-file audit), and brand leaderboard rank
shift — integer-exact throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import maybe_broadcast
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.registry import register


@register(
    "t_vocab_growth",
    oracle="""
WITH toks AS (
  SELECT DISTINCT doc_id,
    unnest([ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]
            FOR i IN generate_series(1, len(ws) - 2)]) AS tok
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
        FROM documents WHERE length(text) > 0)
),
firsts AS (
  SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok
),
bounds AS (SELECT max(doc_id) + 1 AS n_docs FROM documents),
bucketed AS (
  SELECT first_doc * 10 // bounds.n_docs AS decile, count(*) AS new_types
  FROM firsts CROSS JOIN bounds GROUP BY first_doc * 10 // bounds.n_docs
)
SELECT CAST(decile AS BIGINT) AS decile,
  CAST(new_types AS BIGINT) AS new_types,
  CAST(sum(new_types) OVER (ORDER BY decile
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
FROM bucketed ORDER BY decile
""",
    tags=("J1", "J2", "D1"),
)
def t_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law): how many NEW token types
    each corpus decile contributes, plus the cumulative vocabulary —
    the curve that sizes tokenizer vocabularies and detects
    template/boilerplate corpora (a flattening curve means new docs
    add no new language). Types are word TRIGRAMS (the fixtures'
    unigram vocabulary saturates within the first docs; trigram
    combinations grow Heaps-like). Each type is attributed to its
    first-appearance doc via min(doc_id) — one distinct + one
    aggregate, no per-prefix rescans (the naive 'distinct count per
    prefix' is quadratic; first-seen attribution is the linear
    formulation). Decile bucketing by integer division on doc_id.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    ws = F.split(F.lower("text"), " ")
    toks = (
        d.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= 3)
        .select(
            "doc_id",
            # zip of shifted slices — ws[i] inside the lambda invites
            # Catalyst to inline the ws alias and re-split per element
            # (see operators/text.py::word_shingles)
            F.explode(
                F.expr(
                    "transform(arrays_zip(slice(ws, 1, size(ws) - 2),"
                    " slice(ws, 2, size(ws) - 2), slice(ws, 3, size(ws) - 2)),"
                    " s -> concat_ws(' ', s['0'], s['1'], s['2']))"
                )
            ).alias("tok"),
        )
        .distinct()
    )
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    n_docs = (
        load_table(spark, sf_dir, "documents")
        .agg((F.max("doc_id") + 1).alias("n_docs"))
    )
    bucketed = (
        firsts.crossJoin(F.broadcast(n_docs))
        .groupBy(F.expr("first_doc * 10 div n_docs").alias("decile"))
        .agg(F.count("*").alias("new_types"))
    )
    cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return bucketed.select(
        F.col("decile").cast("long").alias("decile"),
        "new_types",
        F.sum("new_types").over(cum).alias("cum_vocab"),
    ).orderBy("decile")


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
    "q_brand_rank_shift",
    oracle="""
WITH yr AS (
  SELECT p.p_brand AS brand, year(l.l_shipdate) AS y,
    CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE year(l.l_shipdate) IN (1997, 1998)
  GROUP BY p.p_brand, year(l.l_shipdate)
),
ranked AS (
  SELECT brand, y, cents,
    CAST(rank() OVER (PARTITION BY y ORDER BY cents DESC, brand) AS BIGINT) AS rk
  FROM yr
),
wide AS (
  SELECT brand,
    max(CASE WHEN y = 1997 THEN rk END) AS rank_97,
    max(CASE WHEN y = 1998 THEN rk END) AS rank_98
  FROM ranked GROUP BY brand
  HAVING rank_97 IS NOT NULL AND rank_98 IS NOT NULL
)
SELECT brand, rank_97, rank_98,
  CAST(rank_97 - rank_98 AS BIGINT) AS places_gained
FROM wide ORDER BY places_gained DESC, brand
""",
    tags=("E1", "D1"),
)
def q_brand_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard movement: each brand's revenue rank in 1997 vs
    1998 and the places gained/lost — the year-over-year market
    movers view. Ranks use rank() with a (cents DESC, brand) total
    order so ties are engine-identical; the rank windows partition
    by year over the tiny brand×year rollup, never over lineitem.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    y = F.year("l_shipdate")
    yr = (
        l.filter(y.isin(1997, 1998))
        .join(maybe_broadcast(p.select("p_partkey", "p_brand"), sf_dir, "part"), l.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), y.alias("y"))
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias("cents"))
    )
    rk = F.rank().over(Window.partitionBy("y").orderBy(F.desc("cents"), "brand"))
    ranked = yr.select("brand", "y", rk.cast("long").alias("rk"))
    wide = (
        ranked.groupBy("brand")
        .agg(
            F.max(F.when(F.col("y") == 1997, F.col("rk"))).alias("rank_97"),
            F.max(F.when(F.col("y") == 1998, F.col("rk"))).alias("rank_98"),
        )
        .filter(F.col("rank_97").isNotNull() & F.col("rank_98").isNotNull())
    )
    return wide.select(
        "brand",
        "rank_97",
        "rank_98",
        (F.col("rank_97") - F.col("rank_98")).alias("places_gained"),
    ).orderBy(F.desc("places_gained"), "brand")
