"""Round-3 widening batch 39: ABC×XYZ inventory classification
(revenue share × demand variability, both in exact integer algebra),
hard-negative mining for contrastive training (per-anchor nearest
other-label vector), and a schema-drift report between dataset
versions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.functions.localrel import local_df
from parking_violations_data_pipeline_spark.registry import register


@register(
    "q_abc_xyz_matrix",
    oracle="""
WITH monthly AS (
  SELECT l_partkey, year(l_shipdate) * 12 + month(l_shipdate) - 1 AS m,
    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey, m
),
per_part AS (
  SELECT l_partkey,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(q) AS BIGINT) AS s1,
    sum(CAST(q AS HUGEINT) * q) AS s2,
    CAST(sum(cents) AS BIGINT) AS cents
  FROM monthly GROUP BY l_partkey
),
abc AS (
  SELECT l_partkey, n, s1, s2, cents,
    sum(cents) OVER (ORDER BY cents DESC, l_partkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents,
    sum(cents) OVER () AS tot_cents
  FROM per_part
),
classed AS (
  SELECT
    -- 128-bit comparisons: cum_cents*10 overflows int64 past $920T
    -- corpus revenue and s1*s1 past ~3e9 per-part quantity — both
    -- reachable on a 100-TB deployment
    CASE WHEN CAST(cum_cents AS HUGEINT) * 10 <= CAST(tot_cents AS HUGEINT) * 7 THEN 'A'
         WHEN CAST(cum_cents AS HUGEINT) * 10 <= CAST(tot_cents AS HUGEINT) * 9 THEN 'B'
         ELSE 'C' END AS abc,
    CASE WHEN 4 * (n * CAST(s2 AS HUGEINT) - CAST(s1 AS HUGEINT) * s1) <= CAST(s1 AS HUGEINT) * s1 THEN 'X'
         WHEN n * CAST(s2 AS HUGEINT) - CAST(s1 AS HUGEINT) * s1 <= CAST(s1 AS HUGEINT) * s1 THEN 'Y'
         ELSE 'Z' END AS xyz,
    cents
  FROM abc
)
SELECT abc, xyz,
  CAST(count(*) AS BIGINT) AS n_parts,
  CAST(sum(cents) AS BIGINT) AS cents
FROM classed GROUP BY abc, xyz ORDER BY abc, xyz
""",
    tags=("D1", "E3", "D8"),
)
def q_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC×XYZ inventory matrix: revenue-share class (the
    d_abc_classification cutoffs) crossed with demand-variability
    class — X/Y/Z by coefficient of variation of monthly quantities,
    tested entirely in integers via CoV² = (n·S2 − S1²)/S1²
    cross-multiplications (CoV ≤ ½ ⟺ 4(nS2−S1²) ≤ S1²; ≤ 1 ⟺
    nS2−S1² ≤ S1²). The 9-cell matrix is the stocking-policy
    planner's standard view (AX = automate, CZ = discontinue). Part
    rollups reduce before the single global running-share window.
    """
    l = load_table(spark, sf_dir, "lineitem")
    m = (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).alias("m")
    monthly = (
        l.select(
            "l_partkey",
            m,
            F.col("l_quantity").cast("long").alias("q"),
            F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("l_partkey", "m")
        .agg(F.sum("q").alias("q"), F.sum("cents").alias("cents"))
    )
    per_part = monthly.groupBy("l_partkey").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("s1"),
        # q*q in 128-bit: per-part monthly quantity squares pass int64
        # at ~3e9 units/month
        F.sum(F.expr("CAST(q AS DECIMAL(38,0)) * q")).alias("s2"),
        F.sum("cents").alias("cents"),
    )
    w_cum = Window.orderBy(F.desc("cents"), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    abc = per_part.select(
        "n",
        "s1",
        "s2",
        "cents",
        F.sum("cents").over(w_cum).alias("cum_cents"),
        F.sum("cents").over(Window.partitionBy()).alias("tot_cents"),
    )
    # 128-bit comparisons (see oracle note): cum_cents*10 and s1*s1
    # overflow int64 at 100-TB magnitudes
    cum_d = F.col("cum_cents").cast("decimal(38,0)")
    tot_d = F.col("tot_cents").cast("decimal(38,0)")
    classed = abc.select(
        F.when(cum_d * 10 <= tot_d * 7, "A")
        .when(cum_d * 10 <= tot_d * 9, "B")
        .otherwise("C")
        .alias("abc"),
        F.when(
            F.expr(
                "4 * (n * CAST(s2 AS DECIMAL(38,0))"
                " - CAST(s1 AS DECIMAL(38,0)) * s1)"
                " <= CAST(s1 AS DECIMAL(38,0)) * s1"
            ),
            "X",
        )
        .when(
            F.expr(
                "n * CAST(s2 AS DECIMAL(38,0))"
                " - CAST(s1 AS DECIMAL(38,0)) * s1"
                " <= CAST(s1 AS DECIMAL(38,0)) * s1"
            ),
            "Y",
        )
        .otherwise("Z")
        .alias("xyz"),
        "cents",
    )
    return (
        classed.groupBy("abc", "xyz")
        .agg(F.count("*").alias("n_parts"), F.sum("cents").alias("cents"))
        .orderBy("abc", "xyz")
    )


@register(
    "j_hard_negative_mining",
    oracle="""
WITH src AS MATERIALIZED (
  -- DISTINCT: vec_id is an identity, so the corpus is a SET of
  -- (id, label, dim, value) facts — duplicated id rows must not
  -- multiply the dot products through the join fan-out
  SELECT DISTINCT vec_id, label, i,
    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS q
  FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
  WHERE embedding IS NOT NULL
),
anchors AS (SELECT DISTINCT vec_id AS a_id, label AS a_label
            FROM embeddings WHERE vec_id < 10),
dots AS (
  -- 128-bit product sum: q reaches 1e10 on unnormalized embeddings,
  -- so q*q (1e20) overflows int64; dot after //1e6 fits BIGINT
  SELECT an.a_id, an.a_label, s.vec_id AS cand, s.label AS c_label,
    CAST(sum(CAST(sa.q AS HUGEINT) * s.q) // 1000000 AS BIGINT) AS dot
  FROM anchors an
  JOIN src sa ON sa.vec_id = an.a_id
  JOIN src s ON s.i = sa.i AND s.vec_id <> an.a_id
  WHERE s.label <> an.a_label
  GROUP BY an.a_id, an.a_label, s.vec_id, s.label
),
picked AS (
  SELECT a_id, a_label, cand, c_label, dot,
    row_number() OVER (PARTITION BY a_id ORDER BY dot DESC, cand) AS rn
  FROM dots
)
SELECT CAST(a_id AS BIGINT) AS a_id, CAST(a_label AS BIGINT) AS a_label,
  CAST(cand AS BIGINT) AS hard_negative, CAST(c_label AS BIGINT) AS neg_label,
  dot AS dot_micro
FROM picked WHERE rn = 1 ORDER BY a_id
""",
    tags=("J8", "J10"),
)
def j_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each of 10
    anchor vectors, the most similar vector with a DIFFERENT label —
    the near-miss negatives that make embedding losses learn
    boundaries instead of trivia. One corpus scan computes all
    anchor×candidate integer dot products (the 10 anchors broadcast
    as exploded rows; other-label filter rides the join); the argmax
    per anchor breaks ties on vec_id. Integer micro-unit dots —
    bit-exact, no cosine normalization needed for ranking since the
    corpus is L2-comparable.
    """
    e = load_table(spark, sf_dir, "embeddings")
    src = (
        e.select(
            "vec_id", "label", F.posexplode(F.col("embedding")).alias("i0", "x")
        )
        .select(
            "vec_id",
            "label",
            (F.col("i0") + 1).alias("i"),
            F.round(F.col("x").cast("double") * 1000000, 0)
            .cast("long")
            .alias("q"),
        )
        # the corpus is a SET of (id, label, dim, value) facts: a
        # duplicated vec_id row must not double every dot product
        .distinct()
    )
    anchors = src.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.col("i").alias("ai"),
        F.col("q").alias("aq"),
    )
    dots = (
        src.join(
            F.broadcast(anchors),
            (F.col("i") == F.col("ai"))
            & (F.col("vec_id") != F.col("a_id"))
            & (F.col("label") != F.col("a_label")),
        )
        .groupBy("a_id", "a_label", F.col("vec_id").alias("cand"), F.col("label").alias("c_label"))
        # 128-bit product sum: q·aq reaches 1e20 on unnormalized
        # embeddings (extremes fixture); dot after div 1e6 fits long
        .agg(
            F.expr(
                "CAST(sum(CAST(q AS DECIMAL(38,0)) * aq)"
                " div 1000000 AS LONG)"
            ).alias("dot")
        )
    )
    w = Window.partitionBy("a_id").orderBy(F.desc("dot"), "cand")
    return (
        dots.select(
            "a_id", "a_label", "cand", "c_label", "dot", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("a_id").cast("long").alias("a_id"),
            F.col("a_label").cast("long").alias("a_label"),
            F.col("cand").cast("long").alias("hard_negative"),
            F.col("c_label").cast("long").alias("neg_label"),
            F.col("dot").alias("dot_micro"),
        )
        .orderBy("a_id")
    )


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
