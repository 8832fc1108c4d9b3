"""Round-9 widening: persisted ANN index — build once, query many.

Closes the round-8 verdict watch item #1: j_ivf_knn / j_ivf_pq retrain
their quantizer per invocation, so the measured "query" exponent was
really build+query. These entries exercise the split surfaces in
operators/ann_index.py: the index (corpus parquet partitioned by
inverted list + tiny metadata tables) is built AT MOST ONCE per
fixture directory, and the query path never trains — it ranks probe
lists driver-side from the persisted metadata and scans only the
probed partition directories (basePath read). The query-only scale
exponent is measured in scripts/ann_query_exponent.py
(SCALE_EXPONENTS_ANN_r9.json).

Correctness protocol: approximate retrieval (recall < 1 by
construction) → invariant-style oracle, the same class j_ivf_knn and
j_ivf_pq use: the engine computes recall against the exact
brute-force top-k IN PLAN and returns a boolean the oracle reproduces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import (
    fixture_stamp,
    fixture_tag,
    load_table,
    warehouse_path,
)
from parking_violations_data_pipeline_spark.operators import ann_index as AI
from parking_violations_data_pipeline_spark.operators import similarity as S
from parking_violations_data_pipeline_spark.registry import register


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    e = load_table(spark, sf_dir, "embeddings")
    row = e.filter(F.col("vec_id") == 0).select("embedding").head()
    return (
        [float(x) for x in row["embedding"]]
        if row and row["embedding"] is not None
        else [0.0] * 64
    )


@register(
    "j_ann_index_query",
    oracle="SELECT CAST(10 AS BIGINT) AS k, TRUE AS recall_ok",
    tags=("J8",),
)
def j_ann_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 production shape: query a PERSISTED IVF index (16 lists,
    2 Lloyd rounds, built at most once per fixture dir — build_once
    guards the concurrency soak) and verify ≥ 70% recall against the
    exact brute-force top-10 in plan. The query path trains nothing:
    it reads the centroid table (16 rows), ranks probe lists on the
    driver, and scans only the probed list directories — the file
    listing itself is pruned (plan-pinned in tests/test_ann_index_r9.py:
    the scan's input files all lie under the probed list_id= dirs)."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    path = warehouse_path(spark, f"annidx_ivf_{fixture_tag(sf_dir)}")
    AI.build_once(
        path,
        lambda: AI.ann_index_write(e, path, mode="ivf", n_lists=16),
        fingerprint=fixture_stamp(sf_dir, "embeddings"),
    )
    ann = AI.ann_index_query(spark, path, qv, k=10).select(
        "vec_id", F.lit(1).alias("hit")
    )
    exact = S.knn_bruteforce(e, qv, 10).select("vec_id")
    return exact.join(ann, "vec_id", "left").agg(
        F.lit(10).cast("bigint").alias("k"),
        (F.count("hit") >= 0.7 * F.count("*")).alias("recall_ok"),
    )


@register(
    "j_pq_index_query",
    oracle="SELECT CAST(10 AS BIGINT) AS k, TRUE AS recall_ok",
    tags=("J8",),
)
def j_pq_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ split surface: codebook training + code encoding persisted
    once (pq_index_write); the query computes the m×n_codes ADC table
    driver-side, scans the 8-byte-per-vector codes relation, and
    re-ranks an exact shortlist fetched through an isin-pushed corpus
    filter. In-plan invariant: ≥ 60% of the exact L2 top-10 recovered
    (the j_ivf_pq bound; shortlist=100 measured 10/10 at the gate
    scales)."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    path = warehouse_path(spark, f"annidx_pq_{fixture_tag(sf_dir)}")
    AI.build_once(
        path,
        lambda: AI.pq_index_write(e, path, m=8, n_codes=16),
        fingerprint=fixture_stamp(sf_dir, "embeddings"),
    )
    pq = AI.pq_index_query(spark, path, qv, k=10, shortlist=100).select(
        "vec_id", F.lit(1).alias("hit")
    )
    # exact L2 top-10 ground truth (PQ ranks by L2, not cosine)
    qarr = F.array(*[F.lit(float(x)) for x in qv])
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            qarr,
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    exact = (
        e.filter(F.col("embedding").isNotNull())
        .select("vec_id", F.round(d2, 4).alias("d2"))
        .orderBy("d2", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    return exact.join(pq, "vec_id", "left").agg(
        F.lit(10).cast("bigint").alias("k"),
        (F.count("hit") >= 0.6 * F.count("*")).alias("recall_ok"),
    )


@register(
    "j_ann_index_append",
    oracle="""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
nn AS (
  SELECT vec_id,
    round(list_inner_product(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q))
      / (sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
         * sqrt(list_inner_product((SELECT qv FROM q), (SELECT qv FROM q)))), 4) AS sim
  FROM embeddings
  WHERE embedding IS NOT NULL AND (SELECT qv FROM q) IS NOT NULL
)
SELECT vec_id, sim FROM nn ORDER BY sim DESC, vec_id LIMIT 10
""",
    tags=("J8", "A5"),
)
def j_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance, gated with a REAL value oracle:
    the index is built on the even-vec_id half of the corpus and the
    odd half is ann_index_append'ed (assignment reuses the persisted
    centroids — the streaming-ingest shape, no retraining, no rewrite
    of existing partitions). Probing EVERY list is then exact
    brute-force cosine over the full corpus regardless of how rows
    were assigned, so the query result must hash-match DuckDB's exact
    top-10 — appended rows that landed in a wrong list, stale list
    stats, or rows lost by the append would all break the equality.
    (The pruned-probe path is gated by j_ann_index_query.)"""
    e = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    path = warehouse_path(spark, f"annidx_app_{fixture_tag(sf_dir)}")

    def build() -> None:
        AI.ann_index_write(
            e.filter(F.col("vec_id") % 2 == 0), path, mode="ivf", n_lists=8
        )
        AI.ann_index_append(e.filter(F.col("vec_id") % 2 == 1), path)

    AI.build_once(path, build, fingerprint=fixture_stamp(sf_dir, "embeddings"))
    # n_probe=8 == every list: exact by construction
    return AI.ann_index_query(spark, path, qv, k=10, n_probe=8)
