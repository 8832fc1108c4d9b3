"""Vector/similarity operators as oracle pairs (SURVEY.md §2 J7-J11).

The DuckDB oracle computes cosine on DOUBLE[] casts so both engines
accumulate in float64 with the same index order; every similarity is
round(…,4|6)-ed on both sides before any top-k cut or threshold so
last-ulp divergence cannot flip a comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import maybe_broadcast
from parking_violations_data_pipeline_spark.catalog import query_vector
from parking_violations_data_pipeline_spark.functions.vector import cosine_sim, norm
from parking_violations_data_pipeline_spark.operators import similarity as S
from parking_violations_data_pipeline_spark.registry import register


@register(
    "j_sim_self_join",
    oracle="""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
         / (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
            * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
         / (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
            * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) > 0.3
ORDER BY sim DESC, id_a, id_b LIMIT 25
""",
    tags=("J9", "C6", "J7"),
)
def j_sim_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 exact form: all-pairs cosine > 0.3, top-25. The O(n²) ground
    truth — bounded n only; the LSH-bucketed variant is the scale path
    (j_sim_self_join_lsh)."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        S.similarity_self_join(e, 0.3)
        .orderBy(F.desc("sim"), "id_a", "id_b")
        .limit(25)
    )


@register(
    "j_sim_self_join_lsh",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_true, TRUE AS recall_ok, TRUE AS precision_ok
FROM (
  -- DISTINCT id pairs: duplicate vec_ids must not fan the pair count
  SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE round(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
         / (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
            * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) > 0.3
)
""",
    tags=("J9",),
)
def j_sim_self_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 scale path: random-hyperplane bucketing (auto-scaled bucket
    count) → one Arrow-batched numpy matmul per bucket (28× the
    per-pair expression scoring on dense buckets — SCALE_SMOKE.md).
    In-plan invariants vs the exact all-pairs ground truth (bounded-n
    at gate scale): precision_ok — every LSH pair is a true pair
    (exact by construction: buckets score with the same rounded
    cosine); recall_ok — LSH finds ≥ 25% of true pairs (measured 36%
    at both gate scales; sim > 0.3 pairs are near-orthogonal, the hard
    case for hyperplane buckets). Oracle reproduces the exact pair
    count + TRUE."""
    e = load_table(spark, sf_dir, "embeddings")
    lsh = (
        S.similarity_self_join(e, 0.3, use_lsh=True, impl="pandas")
        .select("id_a", "id_b")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # distinct pair identity: duplicate vec_ids must not fan the
    # invariant join (4 exact copies × 4 lsh copies = 16× otherwise)
    exact = S.similarity_self_join(e, 0.3).select("id_a", "id_b").distinct()
    return _sim_self_join_lsh_check(exact, lsh)


def _sim_self_join_lsh_check(exact: DataFrame, lsh: DataFrame) -> DataFrame:
    """exact ⟗ lsh on pair id → one summary row of invariants."""
    j = exact.withColumn("true_pair", F.lit(1)).join(lsh, ["id_a", "id_b"], "full_outer")
    return j.agg(
        F.count("true_pair").alias("n_true"),
        (
            F.count(F.when(F.col("true_pair").isNotNull() & F.col("hit").isNotNull(), 1))
            >= 0.25 * F.count("true_pair")
        ).alias("recall_ok"),
        (
            F.count(F.when(F.col("true_pair").isNull() & F.col("hit").isNotNull(), 1))
            == 0
        ).alias("precision_ok"),
    )


@register(
    "j_ann_lsh",
    oracle="SELECT CAST(10 AS BIGINT) AS k, TRUE AS recall_ok",
    tags=("J8",),
)
def j_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 scale path: multi-probe (Hamming ≤ 2) hyperplane-LSH ANN for
    the vec_id=0 query vector. In-plan invariant: recall vs the exact
    top-10 ≥ 20% (measured: 7/10 at sf0.01, 2/10 at sf0.001 — tiny
    corpora of near-orthogonal vectors are the LSH worst case;
    deterministic planes make the measured value stable). Oracle
    reproduces k + TRUE."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = query_vector(e, sf_dir, missing=[0.0] * 64)
    ann = S.ann_lsh(e, qv, k=10, num_planes=6, probe_hamming=2).select(
        "vec_id", F.lit(1).alias("hit")
    )
    exact = S.knn_bruteforce(e, qv, 10).select("vec_id")
    return exact.join(ann, "vec_id", "left").agg(
        F.lit(10).cast("bigint").alias("k"),
        (F.count("hit") >= 0.2 * F.count("*")).alias("recall_ok"),
    )


@register(
    "j_knn_pandas",
    oracle="""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
  CASE WHEN embedding IS NULL OR (SELECT qv FROM q) IS NULL THEN NULL
       ELSE round(list_inner_product(CAST(embedding AS DOUBLE[]), (SELECT CAST(qv AS DOUBLE[]) FROM q))
         / (sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
            * sqrt(list_inner_product((SELECT CAST(qv AS DOUBLE[]) FROM q), (SELECT CAST(qv AS DOUBLE[]) FROM q)))), 4) END AS sim
FROM embeddings ORDER BY sim DESC, vec_id LIMIT 10
""",
    tags=("J8", "K2"),
)
def j_knn_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 surface: exact kNN scored by an Arrow-batched pandas UDF
    (numpy matmul) — same answer as the expression-based kNN, showing
    the vectorized-Python path produces oracle-identical results after
    round(…,4)."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = query_vector(e, sf_dir, missing=[0.0] * 64)
    return S.knn_pandas(e, qv, k=10)


@register(
    "j_label_centroids",
    oracle="""
WITH c AS (
  SELECT label, i.range AS pos, avg(CAST(embedding[CAST(i.range AS INT)] AS DOUBLE)) AS m
  FROM embeddings CROSS JOIN range(1, 65) i
  WHERE embedding IS NOT NULL
  GROUP BY label, pos
)
SELECT label,
  array_to_string(list(CAST(round(m * 1000000) AS BIGINT) ORDER BY pos), '|') AS centroid_u
FROM c GROUP BY label ORDER BY label
""",
    tags=("J10", "H5", "D1"),
)
def j_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: per-label centroid via posexplode → (label,pos) mean →
    ordered re-assembly. (label×dim) intermediate is tiny at any corpus
    scale. Output serializes the vector as '|'-joined integer
    micro-units: the driver's hasher can't hash list cells, and
    float→string formatting differs across engines, so ints are the
    only stable wire form."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        S.label_centroids(e)
        .select(
            "label",
            F.concat_ws(
                "|",
                F.expr("transform(centroid, x -> CAST(round(x * 1000000) AS BIGINT))"),
            ).alias("centroid_u"),
        )
        .orderBy("label")
    )


@register(
    "j_nearest_centroid",
    oracle="""
WITH c AS (
  SELECT label, i.range AS pos, avg(CAST(embedding[CAST(i.range AS INT)] AS DOUBLE)) AS m
  FROM embeddings CROSS JOIN range(1, 65) i
  WHERE embedding IS NOT NULL
  GROUP BY label, pos
),
cent AS (SELECT label AS clabel, list(round(m, 6) ORDER BY pos) AS centroid
         FROM c GROUP BY label),
scored AS (
  SELECT e.vec_id, e.label, cent.clabel,
    CASE WHEN e.embedding IS NULL THEN NULL
         ELSE round(list_inner_product(CAST(e.embedding AS DOUBLE[]), centroid)
         / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_inner_product(centroid, centroid))), 6) END AS sim
  FROM embeddings e CROSS JOIN cent
),
best AS (
  SELECT vec_id, label, clabel,
    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC NULLS LAST, clabel) AS rn
  FROM scored
)
SELECT label, clabel AS pred_label, count(*) AS n
FROM best WHERE rn = 1 GROUP BY label, pred_label ORDER BY label, pred_label
""",
    tags=("J10", "C6", "E1"),
)
def j_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: assign each vector to its nearest (cosine) label centroid →
    confusion counts. Centroids are rounded to 6 on both sides BEFORE
    the cosine so both engines score identical inputs."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = S.label_centroids(e).select(
        F.col("label").alias("clabel"), F.col("centroid")
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "clabel",
        F.round(cosine_sim(F.col("embedding"), F.col("centroid")), 6).alias("sim"),
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("sim"), "clabel")
    best = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.groupBy("label", F.col("clabel").alias("pred_label"))
        .agg(F.count("*").alias("n"))
        .orderBy("label", "pred_label")
    )


@register(
    "j_embedding_norms",
    oracle="""
SELECT label, count(*) AS n,
  round(avg(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS avg_norm
FROM embeddings GROUP BY label ORDER BY label
""",
    tags=("J7", "H5", "D1"),
)
def j_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: per-label mean L2 norm — vector math fully inside JVM
    higher-order expressions."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(norm(F.col("embedding"))), 6).alias("avg_norm"),
        )
        .orderBy("label")
    )


@register(
    "j_multimodal_join",
    oracle="""
SELECT d.lang, count(*) AS n,
  round(avg(CAST(d.n_chars AS DOUBLE)), 6) AS avg_chars,
  round(avg(CAST(e.embedding[1] AS DOUBLE)), 6) AS avg_dim0
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
GROUP BY d.lang ORDER BY d.lang
""",
    tags=("J11", "C1"),
)
def j_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11: text ⋈ vector modality join (doc_id = vec_id) feeding a
    combined text+embedding aggregate."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("avg_chars"),
            F.round(
                F.avg(F.element_at(F.col("embedding").cast("array<double>"), 1)), 6
            ).alias("avg_dim0"),
        )
        .orderBy("lang")
    )


@register(
    "j_hybrid_search",
    oracle="""
WITH lex AS (
  SELECT doc_id,
    len(list_filter(string_split(text, ' '), x -> x = 'spark' OR x = 'join'))
      AS score_lex
  FROM documents
),
lrank AS (
  SELECT doc_id, row_number() OVER (ORDER BY score_lex DESC, doc_id) AS rl
  FROM lex WHERE score_lex > 0
),
vscore AS (
  -- CASE-guarded: DuckDB's list_inner_product rejects NULL inputs
  -- outright instead of propagating NULL
  SELECT e.vec_id AS doc_id,
    CASE WHEN e.embedding IS NULL
           OR (SELECT embedding FROM embeddings WHERE vec_id = 0) IS NULL
         THEN NULL
         ELSE round(list_inner_product(CAST(e.embedding AS DOUBLE[]), (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0))
         / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_inner_product((SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0), (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)))), 6)
    END AS sim
  FROM embeddings e
),
vrank AS (
  SELECT doc_id,
    row_number() OVER (ORDER BY sim DESC NULLS LAST, doc_id) AS rv
  FROM vscore
)
SELECT v.doc_id, l.rl, v.rv,
  round(coalesce(1.0 / (60 + l.rl), 0.0) + 1.0 / (60 + v.rv), 6) AS rrf
FROM vrank v LEFT JOIN lrank l ON l.doc_id = v.doc_id
ORDER BY rrf DESC, v.doc_id LIMIT 10
""",
    tags=("J8", "J3", "E1"),
)
def j_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: lexical rank (term-frequency of the query
    terms, an exact integer score) fused with vector rank (cosine vs
    the query embedding) by reciprocal-rank fusion, RRF k=60 — the
    standard two-tower retrieval layout (BM25-side + ANN-side → fuse).

    Both rank lists use total orders (score/sim with doc_id
    tie-break), so the integer ranks — and therefore the fused RRF
    scores — are engine-identical; docs absent from the lexical list
    contribute 0 to the fusion (LEFT join + coalesce on both sides).
    At scale each ranked list comes from its own index (inverted /
    ANN); the fusion join is top-lists-sized, never corpus-sized.
    """
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    score_lex = F.size(
        F.filter(
            F.split(F.col("text"), " "),
            lambda x: (x == "spark") | (x == "join"),
        )
    )
    lrank = (
        d.select("doc_id", score_lex.alias("score_lex"))
        .filter(F.col("score_lex") > 0)
        .withColumn(
            "rl",
            F.row_number().over(W.orderBy(F.desc("score_lex"), "doc_id")),
        )
        .select("doc_id", "rl")
    )
    qv = F.array(*[F.lit(x) for x in query_vector(e, sf_dir, missing=[0.0] * 64)])
    vrank = (
        e.select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine_sim(F.col("embedding"), qv), 6).alias("sim"),
        )
        .withColumn("rv", F.row_number().over(W.orderBy(F.desc("sim"), "doc_id")))
        .select("doc_id", "rv")
    )
    rrf = F.round(
        F.coalesce(1.0 / (60 + F.col("rl")), F.lit(0.0)) + 1.0 / (60 + F.col("rv")),
        6,
    )
    return (
        vrank.join(maybe_broadcast(lrank, sf_dir, "documents"), "doc_id", "left")
        .select("doc_id", "rl", "rv", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(10)
    )
