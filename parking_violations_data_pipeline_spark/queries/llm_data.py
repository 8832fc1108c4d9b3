"""J-family entries: text, vector and similarity operators of LLM data
pipelines. Embedding statistics, exact and approximate kNN (LSH, IVF,
PQ, persisted ANN indexes), reranking, retrieval metrics and n-gram
language-model scores.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import (
    fixture_stamp,
    fixture_tag,
    load_table,
    maybe_broadcast,
    query_vector,
    warehouse_path,
)
from parking_violations_data_pipeline_spark.functions.localrel import lit_matrix, local_df
from parking_violations_data_pipeline_spark.functions.vector import cosine_sim
from parking_violations_data_pipeline_spark.operators import ann_index as AI
from parking_violations_data_pipeline_spark.operators import dedup as D
from parking_violations_data_pipeline_spark.operators import similarity as S
from parking_violations_data_pipeline_spark.registry import register


@register(
    "j_shingle_containment",
    oracle="""
WITH sh0 AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
        FROM documents) WHERE len(w) >= 3
),
df AS (SELECT sh, count(*) AS docfreq FROM sh0 GROUP BY sh),
sh AS (SELECT s.doc_id, s.sh FROM sh0 s JOIN df USING (sh) WHERE df.docfreq <= 20),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.id_a, i.id_b,
  CAST(i.inter AS BIGINT) AS inter,
  round(CAST(i.inter AS DOUBLE) / sa.n, 6) AS containment
FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a
WHERE CAST(i.inter AS DOUBLE) / sa.n >= 0.55
ORDER BY containment DESC, id_a, id_b LIMIT 25
""",
    tags=("J6", "J4"),
)
def j_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment similarity C(A,B) = |A∩B| / |A| over
    3-gram shingle sets — the quote/subset-copy detector Jaccard
    misses (a short doc fully contained in a long one has high
    containment but low Jaccard). Directed pairs, threshold 0.55.

    Same posting-list self-equi-join shape as j_jaccard_neardup (pairs
    sharing zero shingles never materialize); only the denominator
    changes (|A| instead of union). Top-25 with full tie-break.

    Scale guard (measured: 263 s at the 10x smoke without it): hot
    boilerplate shingles make the posting-list join quadratic — a
    shingle in d docs yields d^2 pairs. Shingles with docfreq > 20
    are pruned BEFORE the join on both engines (classic posting-list
    stop-shingle pruning; containment is then defined over the
    informative-shingle space, which is what you want for subset-copy
    detection anyway — boilerplate matches are not evidence of
    copying). Per-shingle join cost is bounded by 20^2, and the pruned
    posting list is persisted so the shingle explode runs once, not
    once per consumer (sizes + both join sides). Measured at the 10x
    smoke: 263 s -> 44 s; the remainder is the unavoidable full
    posting-list docfreq pass.
    """
    d = load_table(spark, sf_dir, "documents")
    sh0 = D.shingle_sets(d, 3).select(
        "doc_id", F.explode("shingles").alias("sh")
    )
    df_counts = sh0.groupBy("sh").agg(F.count("*").alias("docfreq"))
    sh = (
        sh0.join(df_counts.filter(F.col("docfreq") <= 20).select("sh"), "sh")
        .select("doc_id", "sh")
    )
    # consumed 3x: sizes + both sides of the pair join. DISK_ONLY
    # (round-12 re-audit, VERDICT r11 item 5): the posting list scales
    # with the corpus; default-level deserialized blocks OOMed the
    # gate's 1g heap at sf0.1 on a comparable materialization (r11
    # triangle count). Disk blocks never compete with the pair join's
    # execution memory.
    from pyspark import StorageLevel

    sh.persist(StorageLevel.DISK_ONLY)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    cont = (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a"), "id_a")
        .withColumn(
            "containment", F.round(F.col("inter").cast("double") / F.col("n"), 6)
        )
        .filter(F.col("inter").cast("double") / F.col("n") >= 0.55)
    )
    return (
        cont.select("id_a", "id_b", "inter", "containment")
        .orderBy(F.desc("containment"), "id_a", "id_b")
        .limit(25)
    )


@register(
    "j_embedding_dim_variance",
    oracle="""
WITH d AS (
  SELECT unnest(embedding) AS v,
         unnest(generate_series(1, len(embedding))) AS dim
  FROM embeddings
)
SELECT CAST(dim AS BIGINT) AS dim,
  round(avg(CAST(v AS DOUBLE)), 4)      AS mean_v,
  round(var_samp(CAST(v AS DOUBLE)), 6) AS var_v
FROM d GROUP BY dim ORDER BY var_v DESC, dim LIMIT 10
""",
    tags=("J10", "D8", "H5"),
)
def j_embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health profile: per-dimension mean/variance,
    top-10 by variance — the collapse/dead-dimension detector run
    before trusting an embedding column for ANN or dedup (a dimension
    with ~zero variance carries no signal; a huge one dominates
    unnormalized distances).

    posexplode turns the 64-dim vectors into (dim, value) pairs inside
    codegen; the aggregate shuffles 64 groups of moments, not vectors.
    At 100 TB identical shape — the shuffle is O(dims), the scan is
    the only big thing.
    """
    e = load_table(spark, sf_dir, "embeddings")
    d = e.select(F.posexplode("embedding").alias("pos", "v")).select(
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.col("v").cast("double").alias("v"),
    )
    return (
        d.groupBy("dim")
        .agg(
            F.round(F.avg("v"), 4).alias("mean_v"),
            F.round(F.var_samp("v"), 6).alias("var_v"),
        )
        .orderBy(F.desc("var_v"), "dim")
        .limit(10)
    )


@register(
    "j_matryoshka_energy",
    oracle="""
WITH per AS (
  SELECT k,
    round(
      list_sum(list_transform(embedding[1:k], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
      / list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      6) AS ratio
  FROM embeddings, (SELECT unnest([8, 16, 32, 64]) AS k)
)
SELECT k, CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(ratio), 4) AS avg_energy
FROM per GROUP BY k ORDER BY k
""",
    tags=("J7", "H5"),
)
def j_matryoshka_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation profile (Kusupati et al. 2022): what
    fraction of each embedding's L2 energy survives truncation to the
    first 8/16/32/64 dimensions — the metric that decides how far an
    MRL-trained index can shrink its vectors before recall collapses.

    Pure higher-order functions (slice + aggregate fold), JVM-side,
    no UDF: per-row cost is O(dim), the only shuffle is the 4-group
    rollup. Elements are cast to DOUBLE before squaring on BOTH
    engines (the arrays are float32; float-precision squares would
    diverge), and both fold left-to-right, so per-row ratios agree to
    the 6 rounded decimals.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    sq_sum = lambda col: F.aggregate(  # noqa: E731
        col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    per = emb.select(
        F.explode(F.array(*[F.lit(k) for k in (8, 16, 32, 64)])).alias("k"),
        F.col("embedding"),
    ).select(
        "k",
        # zero-energy vector → ratio undefined → NULL (DuckDB /0),
        # not an ANSI abort; avg() then skips it on both engines
        F.round(
            F.try_divide(
                sq_sum(F.slice("embedding", 1, F.col("k"))),
                sq_sum(F.col("embedding")),
            ),
            6,
        ).alias("ratio"),
    )
    return (
        per.groupBy("k")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("ratio"), 4).alias("avg_energy"),
        )
        .orderBy("k")
    )


@register(
    "j_centroid_drift",
    oracle="""
WITH halves AS (
  SELECT label, vec_id % 2 AS half, embedding FROM embeddings
),
dims AS (
  SELECT label, half,
         unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM halves
),
cent AS (
  SELECT label, half, dim, avg(CAST(x AS DOUBLE)) AS c
  FROM dims GROUP BY label, half, dim
),
paired AS (
  SELECT a.label, a.dim, a.c AS ca, b.c AS cb
  FROM cent a JOIN cent b
    ON a.label = b.label AND a.dim = b.dim AND a.half = 0 AND b.half = 1
),
dots AS (
  SELECT label,
         sum(ca * cb) AS dot,
         sqrt(sum(ca * ca)) AS na,
         sqrt(sum(cb * cb)) AS nb
  FROM paired GROUP BY label
),
counts AS (
  SELECT label,
    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM halves GROUP BY label
)
SELECT d.label, c.n_a, c.n_b,
       round(d.dot / (d.na * d.nb), 6) AS centroid_cos
FROM dots d JOIN counts c ON c.label = d.label
ORDER BY d.label
""",
    tags=("J7", "J10", "D1"),
)
def j_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift per label: split each label's vectors into two
    deterministic halves (vec_id parity — in production, two snapshot
    dates), average each half into a centroid, and report the cosine
    between the two centroids. A healthy stable representation sits
    near 1.0; a drop flags upstream encoder or population drift that
    numeric-marginal tests (KS/PSI) cannot see.

    The explode-to-(label, half, dim) grain keeps everything JVM-side:
    centroids are one groupBy over label×2×64 cells, the cosine is a
    64-row-per-label reduction — no vectors ever reach the driver and
    no pairwise distances are computed. Float elements are cast to
    DOUBLE before averaging on both engines; per-dim means divide by
    each half's count exactly once, so the only cross-engine noise is
    ulp-level and absorbed by round(…, 6).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    halves = emb.select(
        "label", (F.col("vec_id") % 2).alias("half"), "embedding"
    )
    dims = halves.select(
        "label",
        "half",
        F.posexplode(F.col("embedding")).alias("dim0", "x"),
    ).select(
        "label", "half", (F.col("dim0") + 1).alias("dim"), F.col("x").cast("double").alias("x")
    )
    cent = dims.groupBy("label", "half", "dim").agg(F.avg("x").alias("c"))
    a = cent.filter(F.col("half") == 0).select("label", "dim", F.col("c").alias("ca"))
    b = cent.filter(F.col("half") == 1).select("label", "dim", F.col("c").alias("cb"))
    dots = (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).alias("dot"),
            F.sqrt(F.sum(F.col("ca") * F.col("ca"))).alias("na"),
            F.sqrt(F.sum(F.col("cb") * F.col("cb"))).alias("nb"),
        )
    )
    counts = halves.groupBy("label").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n_b"),
    )
    return (
        dots.join(counts, "label")
        .select(
            "label",
            "n_a",
            "n_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "centroid_cos"
            ),
        )
        .orderBy("label")
    )


@register(
    "j_label_confusion",
    oracle="""
WITH dims AS (
  SELECT label, vec_id,
         unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
),
cent AS (
  SELECT label, dim, avg(CAST(x AS DOUBLE)) AS c
  FROM dims GROUP BY label, dim
),
cnorm AS (
  SELECT label, dim, c / sqrt(sum(c * c) OVER (PARTITION BY label)) AS cu
  FROM cent
),
vec_cos AS (
  SELECT d.vec_id, d.label, n.label AS other_label,
         sum(CAST(d.x AS DOUBLE) * n.cu)
           / sqrt(sum(CAST(d.x AS DOUBLE) * CAST(d.x AS DOUBLE))) AS cos_c
  FROM dims d JOIN cnorm n ON n.dim = d.dim AND n.label <> d.label
  GROUP BY d.vec_id, d.label, n.label
),
hardest AS (
  SELECT vec_id, label, other_label,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY round(cos_c, 6) DESC, other_label) AS rn
  FROM vec_cos
)
SELECT label, other_label AS confused_with,
  CAST(count(*) AS BIGINT) AS n_vecs
FROM hardest WHERE rn = 1
GROUP BY label, other_label ORDER BY label, confused_with
""",
    tags=("J10", "J7", "C1"),
)
def j_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-confusion mining — the contrastive-training diagnostic:
    for every vector, which OTHER label's (unit-normalized) centroid
    is it most similar to? The per-(label, confused_with) counts form
    a nearest-rival confusion matrix that flags label pairs needing
    hard negatives, without any vector-vector comparison.

    Cost is O(n × labels × dim) via the dim-grain join against the
    tiny centroid table — the scalable stand-in for O(n²) hard-negative
    search. Centroids are L2-normalized so the vector's own norm
    divides out identically on both engines; the rival ranking orders
    by round(cos, 6) with the label as tie-break, making the argmax
    deterministic under ulp noise.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        "vec_id",
        F.posexplode("embedding").alias("dim0", "x"),
    ).select(
        "label",
        "vec_id",
        (F.col("dim0") + 1).alias("dim"),
        F.col("x").cast("double").alias("x"),
    )
    cent = dims.groupBy("label", "dim").agg(F.avg("x").alias("c"))
    cnorm = cent.select(
        "label",
        "dim",
        (
            F.col("c")
            / F.sqrt(F.sum(F.col("c") * F.col("c")).over(W.partitionBy("label")))
        ).alias("cu"),
    )
    n = cnorm.select(
        F.col("label").alias("other_label"), "dim", "cu"
    )
    vec_cos = (
        dims.join(F.broadcast(n), (n.dim == dims.dim) & (n.other_label != dims.label))
        .drop(n.dim)
        .groupBy("vec_id", "label", "other_label")
        .agg(
            (
                F.sum(F.col("x") * F.col("cu"))
                / F.sqrt(F.sum(F.col("x") * F.col("x")))
            ).alias("cos_c")
        )
    )
    hardest = vec_cos.select(
        "vec_id",
        "label",
        "other_label",
        F.row_number()
        .over(
            W.partitionBy("vec_id").orderBy(
                F.desc(F.round("cos_c", 6)), "other_label"
            )
        )
        .alias("rn"),
    )
    return (
        hardest.filter(F.col("rn") == 1)
        .groupBy("label", F.col("other_label").alias("confused_with"))
        .agg(F.count("*").alias("n_vecs"))
        .orderBy("label", "confused_with")
    )


@register(
    "j_bigram_logprob",
    oracle="""
WITH tok AS (
  -- one token stream per doc_id (id is identity): duplicate-id rows
  -- collapse to the min-text survivor BEFORE adjacency, else the two
  -- texts' positions interleave into phantom bigrams
  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos
  FROM (
    SELECT doc_id, list_filter(string_split(min(text), ' '), x -> x <> '') AS toks
    FROM documents WHERE text IS NOT NULL GROUP BY doc_id
  )
),
bg AS (
  SELECT a.doc_id, a.w AS prev, b.w AS w
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
bg_counts AS (
  SELECT prev, w, CAST(count(*) AS BIGINT) AS cnt FROM bg GROUP BY prev, w
),
ctx AS (
  SELECT prev, CAST(sum(cnt) AS BIGINT) AS tot FROM bg_counts GROUP BY prev
),
vocab AS (
  SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM tok
)
SELECT g.doc_id,
  CAST(count(*) AS BIGINT) AS n_bigrams,
  round(avg(ln((c.cnt + 1.0) / (x.tot + vocab.v))), 4) AS avg_logprob
FROM bg g
JOIN bg_counts c ON g.prev = c.prev AND g.w = c.w
JOIN ctx x ON g.prev = x.prev, vocab
GROUP BY g.doc_id
ORDER BY g.doc_id
""",
    tags=("J2", "J3", "C3"),
)
def j_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram language-model score per document — mean
    ln P(wᵢ | wᵢ₋₁) with Laplace smoothing — the conditional upgrade
    of j_unigram_logprob and a much sharper fluency/quality proxy (a
    document of real words in scrambled order scores well on unigrams
    but badly here).

    Bigram and context tables are bounded by vocabulary², broadcast
    back onto the bigram stream; the per-doc average is one doc_id
    shuffle. Spark builds adjacency with posexplode + a lag window
    (one doc_id shuffle), the oracle with a pos+1 self-join — same
    pairs by construction. ln of exact-integer ratios + 4-decimal
    rounding absorbs ulp drift (the j_unigram_logprob convention).
    """
    d = (
        load_table(spark, sf_dir, "documents")
        # doc_id is identity: collapse duplicate-id rows to the
        # min-text survivor BEFORE adjacency — the lag window below
        # partitions by doc_id and would interleave two texts' tokens
        .filter(F.col("text").isNotNull())
        .groupBy("doc_id")
        .agg(F.min("text").alias("text"))
    )
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    tok = d.select("doc_id", F.posexplode(toks).alias("pos", "w"))
    wlag = W.partitionBy("doc_id").orderBy("pos")
    bg = (
        tok.select(
            "doc_id", F.lag("w").over(wlag).alias("prev"), "w"
        )
        .filter(F.col("prev").isNotNull())
    )
    bg_counts = bg.groupBy("prev", "w").agg(F.count("*").alias("cnt"))
    ctx = bg_counts.groupBy("prev").agg(F.sum("cnt").alias("tot"))
    vocab = tok.agg(F.countDistinct("w").alias("v"))
    return (
        bg.join(maybe_broadcast(bg_counts, sf_dir, "documents"), ["prev", "w"])
        .join(maybe_broadcast(ctx, sf_dir, "documents"), "prev")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(F.log((F.col("cnt") + 1.0) / (F.col("tot") + F.col("v")))), 4
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


@register(
    "j_ivf_recall_curve",
    oracle="""
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), CAST(10 AS BIGINT), TRUE),
  (CAST(2 AS BIGINT), CAST(10 AS BIGINT), TRUE),
  (CAST(4 AS BIGINT), CAST(10 AS BIGINT), TRUE)
) AS t(n_probe, k, recall_monotone)
ORDER BY n_probe
""",
    tags=("J8",),
)
def j_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ANN recall-vs-n_probe curve — the tuning table an ANN
    deployment reads to pick its scan fraction. For n_probe in
    {1, 2, 4}: run IVF against the exact top-10 and verify IN-PLAN
    that recall never decreases as n_probe grows (probing more
    clusters scans a superset of candidates, so the hit set can only
    grow — a structural invariant the query MEASURES rather than
    assumes). The oracle reproduces the invariant row shape; recall
    magnitudes are approximate-class and live in the repo's own
    semantics tests (j_ivf_knn measures the floor).

    Cost shape: one ivf_build (k-means on DataFrame ops), then three
    probe-limited scans; at corpus scale each probe scans ~n_probe/16
    of the data — the whole point of the curve.
    """
    from parking_violations_data_pipeline_spark.operators import similarity as S

    e = load_table(spark, sf_dir, "embeddings")
    qv = query_vector(e, sf_dir, missing=[0.0] * 64)
    exact = S.knn_bruteforce(e, qv, 10).select("vec_id")
    # ONE quantizer for all three probes (round-11): ivf_build is
    # deterministic, so the per-probe rebuilds trained identical
    # centroids three times over — the docstring's cost shape ("one
    # ivf_build, then three probe-limited scans") now matches the code.
    # Sharing the build also makes the superset/monotonicity invariant
    # structural rather than relying on rebuild determinism.
    # return_vec: the vector-carrying assignments let each of the three
    # probes scan-filter the index instead of shuffle-joining the
    # corpus back onto it (round 12, guide §2.4)
    idx = S.ivf_build(e, k=16, return_vec=True)
    hits = {}
    for np_ in (1, 2, 4):
        ann = S.ivf_knn(
            e, qv, k=10, n_clusters=16, n_probe=np_, prebuilt=idx
        ).select("vec_id", F.lit(1).alias("hit"))
        hits[np_] = (
            exact.join(ann, "vec_id", "left")
            .agg(F.count("hit").alias("n_hit"))
            .withColumn("n_probe", F.lit(np_).cast("long"))
        )
    curve = hits[1].unionByName(hits[2]).unionByName(hits[4])
    w = W.orderBy("n_probe").rowsBetween(W.unboundedPreceding, -1)
    return (
        curve.select(
            "n_probe",
            F.lit(10).cast("long").alias("k"),
            (
                F.col("n_hit")
                >= F.coalesce(F.max("n_hit").over(w), F.lit(0))
            ).alias("recall_monotone"),
        )
        .orderBy("n_probe")
    )


_DIMS = 8


_ITERS = 100


def _power_oracle() -> str:
    parts = [
        f"""
WITH src AS (
  SELECT vec_id, i,
    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS q
  FROM embeddings, unnest(generate_series(1, {_DIMS})) AS t(i)
  WHERE embedding IS NOT NULL
),
gram AS MATERIALIZED (
  -- 128-bit product sum: q reaches 1e10 on unnormalized embeddings,
  -- so q*q (1e20) overflows int64; g after //1e6 fits BIGINT
  SELECT a.i AS r, b.i AS c,
    CAST(sum(CAST(a.q AS HUGEINT) * b.q) // 1000000 AS BIGINT) AS g
  FROM src a JOIN src b ON a.vec_id = b.vec_id GROUP BY a.i, b.i
),
v0 AS (
  SELECT i AS d, CAST(1000000 AS BIGINT) AS v
  FROM unnest(generate_series(1, {_DIMS})) AS t(i)
)"""
    ]
    for k in range(1, _ITERS + 1):
        parts.append(
            f""",
w{k} AS MATERIALIZED (
  -- w stays HUGEINT: g·v reaches ~1e21 before renormalization once
  -- gram cells carry unnormalized-embedding magnitudes
  SELECT g.r AS d, sum(CAST(g.g AS HUGEINT) * v.v) AS w
  FROM gram g JOIN v{k - 1} v ON g.c = v.d GROUP BY g.r
),
v{k} AS MATERIALIZED (
  SELECT d, CAST(w // s AS BIGINT) AS v
  FROM w{k}, (SELECT greatest(max(abs(w)) // 1000000, 1) AS s FROM w{k})
)"""
        )
    parts.append(
        f"""
SELECT CAST(v{_ITERS}.d AS BIGINT) AS dim, v{_ITERS}.v AS v_micro, gram.g AS g_diag
FROM v{_ITERS} JOIN gram ON gram.r = v{_ITERS}.d AND gram.c = v{_ITERS}.d
ORDER BY dim"""
    )
    return "".join(parts)


@register("j_gram_power_iteration", oracle=_power_oracle(), tags=("J10", "H3", "D1"))
def j_gram_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal direction of the embedding corpus (first 8 dims) by
    POWER ITERATION on the Gram matrix — the PCA/spectral primitive
    behind representation-collapse monitoring and whitening. The
    data-sized stage is distributed: each vector contributes its
    dim² outer-product cells through one vec_id-joined explode and a
    64-key aggregate (map-side combined). Only the dims×dims Gram —
    bounded by model width, never by corpus size — reaches the
    driver (the IVF-centroid precedent), where 100 iterations run in
    EXACT integer arithmetic: micro-unit quantized inputs, bigint
    cell sums scaled by 10⁻⁶, per-step renormalization via
    truncating division by max|w|//10⁶. A double formulation would
    compound summation-order ulps per iteration; the integer
    recurrence is bit-identical on both engines (truncation
    semantics verified: Spark `div` and DuckDB `//` both round
    toward zero). Oracle unrolls the same recurrence as 100 chained
    CTE levels (8-row tables — still sub-second). 100 iterations, not
    10: this corpus's eigengap is thin (lambda2/lambda1 = 0.958
    measured at sf0.001), so 10 steps leave the iterate at cosine 0.65
    from the principal axis while 100 reach 0.9998 — found by the
    round-5 independent eigendecomposition twin
    (tests/test_indep_ml_r5.py). Per-step renormalization bounds every
    integer below 1.6e16, so iteration count costs nothing in range.
    """
    e = load_table(spark, sf_dir, "embeddings")
    src = e.select(
        "vec_id",
        F.posexplode(F.slice("embedding", 1, _DIMS)).alias("i0", "x"),
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.round(F.col("x").cast("double") * 1000000, 0).cast("long").alias("q"),
    )
    a = src.alias("a")
    b = src.alias("b")
    # 128-bit product sum (DECIMAL(38,0)): q reaches 1e10 on
    # unnormalized embeddings, so q*q overflows int64 (extremes
    # fixture); g after div 1e6 fits a long again
    gram_df = (
        a.join(b, F.col("a.vec_id") == F.col("b.vec_id"))
        .groupBy(F.col("a.i").alias("r"), F.col("b.i").alias("c"))
        .agg(
            F.expr(
                "CAST(sum(CAST(a.q AS DECIMAL(38,0)) * b.q)"
                " div 1000000 AS LONG)"
            ).alias("g")
        )
    )
    cells = {(row["r"], row["c"]): row["g"] for row in gram_df.collect()}

    def tdiv(x: int, s: int) -> int:
        # truncate toward zero, matching Spark div / DuckDB //
        return -((-x) // s) if x < 0 else x // s

    v = [10**6] * _DIMS
    for _ in range(_ITERS):
        w = [
            sum(cells.get((i + 1, j + 1), 0) * v[j] for j in range(_DIMS))
            for i in range(_DIMS)
        ]
        s = max(max(abs(x) for x in w) // 10**6, 1)
        v = [tdiv(x, s) for x in w]

    if not cells:  # no non-NULL vectors: no Gram, no iterate (the
        # oracle's CTE chain yields zero rows from an empty src)
        return spark.createDataFrame([], "dim long, v_micro long, g_diag long")
    rows = [
        (i + 1, v[i], cells.get((i + 1, i + 1), 0)) for i in range(_DIMS)
    ]
    return local_df(spark, rows, "dim long, v_micro long, g_diag long").orderBy("dim")


_PROJ_K = 8  # projected dimensions


@register(
    "j_random_projection",
    oracle=f"""
WITH src AS (
  SELECT vec_id, label, i,
    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS q
  FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
  WHERE embedding IS NOT NULL
),
signs AS MATERIALIZED (
  SELECT i, j,
    CASE WHEN ascii(substr(md5(CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 1)) % 2 = 0
         THEN 1 ELSE -1 END AS sgn
  FROM unnest(generate_series(1, 64)) AS a(i),
       unnest(generate_series(1, {_PROJ_K})) AS b(j)
),
proj AS (
  SELECT s.vec_id, s.label, g.j, CAST(sum(g.sgn * s.q) AS BIGINT) AS p
  FROM src s JOIN signs g ON s.i = g.i
  GROUP BY s.vec_id, s.label, g.j
),
norms AS (
  -- 128-bit squares scaled back to micro-units: p reaches ~6e11 on
  -- unnormalized embeddings, so p*p overflows int64; the //1e6
  -- rescale keeps the OUTPUT column a BIGINT (the ppm ratio below is
  -- scale-invariant because both n2 sums carry the same factor)
  SELECT vec_id, label,
    CAST(sum(CAST(p AS HUGEINT) * p) // 1000000 AS BIGINT) AS proj_n2
  FROM proj GROUP BY vec_id, label
),
orig AS (
  SELECT vec_id,
    CAST(sum(CAST(q AS HUGEINT) * q) // 1000000 AS BIGINT) AS orig_n2
  FROM src GROUP BY vec_id
)
SELECT n.label,
  CAST(count(*) AS BIGINT) AS n_vecs,
  CAST(sum(o.orig_n2) AS BIGINT) AS sum_orig_n2,
  CAST(sum(n.proj_n2) AS BIGINT) AS sum_proj_n2,
  CAST(sum(n.proj_n2) // greatest({_PROJ_K} * sum(o.orig_n2) // 1000000, 1) AS BIGINT)
    AS energy_ratio_ppm
FROM norms n JOIN orig o ON n.vec_id = o.vec_id
GROUP BY n.label ORDER BY n.label
""",
    tags=("J10", "H4", "H5"),
)
def j_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: 64-dim
    embeddings projected to 8 dims through a ±1 sign matrix — the
    cheap distance-preserving sketch used before clustering/dedup at
    corpus scale. Signs derive from md5(i_j) parity (the seedless
    hash both engines share — the l_grouped_split precedent), inputs
    quantize to integer micro-units, so projections and norms are
    bit-exact bigints. The per-label energy ratio Σ‖p‖²/(k·Σ‖q‖²)
    ≈ 1 is the JL contract MEASURED (ppm, divide-the-divisor form —
    the SCALE_SMOKE overflow rule); the 64×8 sign matrix broadcasts,
    the projection is one explode + equi-join + (vec,j) aggregate.
    """
    e = load_table(spark, sf_dir, "embeddings")
    src = e.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("i0", "x"),
    ).select(
        "vec_id",
        "label",
        (F.col("i0") + 1).alias("i"),
        F.round(F.col("x").cast("double") * 1000000, 0).cast("long").alias("q"),
    )
    dims_i = spark.range(1, 65).select(F.col("id").cast("int").alias("i"))
    dims_j = spark.range(1, _PROJ_K + 1).select(F.col("id").cast("int").alias("j"))
    h = F.md5(F.concat_ws("_", F.col("i").cast("string"), F.col("j").cast("string")))
    signs = dims_i.crossJoin(dims_j).select(
        "i",
        "j",
        F.when(F.ascii(F.substring(h, 1, 1)) % 2 == 0, 1).otherwise(-1).alias("sgn"),
    )
    proj = (
        src.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "label", "j")
        .agg(F.sum(F.col("sgn") * F.col("q")).alias("p"))
    )
    # 128-bit squares scaled to micro-units (see oracle note): p*p and
    # q*q overflow int64 on unnormalized embeddings; //1e6 keeps the
    # outputs BIGINT and the ppm ratio is scale-invariant
    norms = proj.groupBy("vec_id", "label").agg(
        F.expr(
            "CAST(sum(CAST(p AS DECIMAL(38,0)) * p) div 1000000 AS LONG)"
        ).alias("proj_n2")
    )
    orig = src.groupBy(F.col("vec_id").alias("ov")).agg(
        F.expr(
            "CAST(sum(CAST(q AS DECIMAL(38,0)) * q) div 1000000 AS LONG)"
        ).alias("orig_n2")
    )
    return (
        norms.join(orig, norms.vec_id == orig.ov)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("orig_n2").alias("sum_orig_n2"),
            F.sum("proj_n2").alias("sum_proj_n2"),
            F.expr(
                f"sum(proj_n2) div greatest({_PROJ_K} * sum(orig_n2) div 1000000, 1)"
            ).alias("energy_ratio_ppm"),
        )
        .orderBy("label")
    )


_N_CAND = 12


_N_PICK = 5


def _mmr_oracle() -> str:
    head = f"""
WITH src AS MATERIALIZED (
  SELECT vec_id, i,
    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS q
  FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
  WHERE embedding IS NOT NULL
),
rel AS MATERIALIZED (
  -- 128-bit product sum: q·q reaches 1e20 on unnormalized embeddings
  SELECT b.vec_id, CAST(sum(CAST(a.q AS HUGEINT) * b.q) // 1000000 AS BIGINT) AS rel
  FROM src a JOIN src b ON a.i = b.i
  WHERE a.vec_id = 0 AND b.vec_id <> 0
  GROUP BY b.vec_id
),
cand AS MATERIALIZED (
  SELECT vec_id, rel FROM rel ORDER BY rel DESC, vec_id LIMIT {_N_CAND}
),
sims AS MATERIALIZED (
  SELECT x.vec_id AS a, y.vec_id AS b,
    CAST(sum(CAST(sa.q AS HUGEINT) * sb.q) // 1000000 AS BIGINT) AS dot
  FROM cand x JOIN cand y ON x.vec_id <> y.vec_id
  JOIN src sa ON sa.vec_id = x.vec_id
  JOIN src sb ON sb.vec_id = y.vec_id AND sb.i = sa.i
  GROUP BY x.vec_id, y.vec_id
),
s1 AS MATERIALIZED (
  SELECT vec_id, rel, CAST(7 * rel AS BIGINT) AS score
  FROM cand ORDER BY 7 * rel DESC, vec_id LIMIT 1
)"""
    parts = [head]
    prev_sel = "(SELECT vec_id FROM s1)"
    for k in range(2, _N_PICK + 1):
        parts.append(
            f""",
s{k} AS MATERIALIZED (
  SELECT c.vec_id, c.rel,
    CAST(7 * c.rel - 3 * (SELECT max(s.dot) FROM sims s
                          WHERE s.a = c.vec_id AND s.b IN {prev_sel}) AS BIGINT) AS score
  FROM cand c WHERE c.vec_id NOT IN {prev_sel}
  ORDER BY score DESC, c.vec_id LIMIT 1
)"""
        )
        prev_sel = (
            "(" + " UNION ALL ".join(f"SELECT vec_id FROM s{j}" for j in range(1, k + 1)) + ")"
        )
    union = "\nUNION ALL\n".join(
        f"SELECT {k} AS pick, vec_id, rel, score FROM s{k}" for k in range(1, _N_PICK + 1)
    )
    parts.append(
        f"""
SELECT CAST(pick AS BIGINT) AS pick, CAST(vec_id AS BIGINT) AS vec_id, rel, score
FROM ({union}) ORDER BY pick"""
    )
    return "".join(parts)


@register("j_mmr_rerank", oracle=_mmr_oracle(), tags=("J8", "J10", "F3"))
def j_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal marginal relevance re-ranking: from the query's top-12
    nearest candidates, greedily pick 5 maximizing
    7·relevance − 3·max-similarity-to-already-picked (λ = 0.7) — the
    diversity-aware post-processor RAG retrieval stacks run after
    ANN. All similarities are integer micro-unit dot products
    (// 10⁶ rescale), so relevance, redundancy penalties, and the
    argmax are bit-exact; ties break on vec_id.

    Scale shape: the distributed stages are the query-vs-corpus dot
    scan (one pass; q broadcast) and the candidate top-k
    (TakeOrderedAndProject); only the 12-candidate pairwise matrix
    (≤144 cells, bounded by k², never by corpus) reaches the driver
    for the 5-step greedy loop — the IVF-centroid precedent. The
    oracle unrolls the same greedy recurrence as 5 chained
    MATERIALIZED CTEs with correlated max-sim subqueries.
    """
    e = load_table(spark, sf_dir, "embeddings")
    src = e.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("i0", "x")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.round(F.col("x").cast("double") * 1000000, 0).cast("long").alias("q"),
    )
    qv = src.filter(F.col("vec_id") == 0).select(
        F.col("i").alias("qi"), F.col("q").alias("qq")
    )
    rel = (
        src.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv), F.col("i") == F.col("qi"))
        .groupBy("vec_id")
        # 128-bit product sum: q·qq reaches 1e20 on unnormalized
        # embeddings (extremes fixture); rel after div 1e6 fits long
        .agg(
            F.expr(
                "CAST(sum(CAST(q AS DECIMAL(38,0)) * qq)"
                " div 1000000 AS LONG)"
            ).alias("rel")
        )
    )
    cand = rel.orderBy(F.desc("rel"), "vec_id").limit(_N_CAND)
    cand_rows = cand.collect()
    cand_ids = [r["vec_id"] for r in cand_rows]
    cand_rel = {r["vec_id"]: r["rel"] for r in cand_rows}
    pair_src = src.filter(F.col("vec_id").isin(cand_ids))
    a = pair_src.alias("a")
    b = pair_src.alias("b")
    sims_df = (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i")) & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .groupBy(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
        .agg(
            F.expr(
                "CAST(sum(CAST(a.q AS DECIMAL(38,0)) * b.q)"
                " div 1000000 AS LONG)"
            ).alias("dot")
        )
    )
    sims = {(r["va"], r["vb"]): r["dot"] for r in sims_df.collect()}

    picked: list[tuple[int, int, int, int]] = []
    remaining = list(cand_ids)
    for pick in range(1, _N_PICK + 1):
        if not remaining:  # empty corpus → empty rerank, not a crash
            break
        best = None
        for v in remaining:
            if pick == 1:
                score = 7 * cand_rel[v]
            else:
                score = 7 * cand_rel[v] - 3 * max(
                    sims[(v, p[1])] for p in picked
                )
            key = (-score, v)
            if best is None or key < best[0]:
                best = (key, v, score)
        _, v, score = best
        picked.append((pick, v, cand_rel[v], score))
        remaining.remove(v)

    return local_df(
        spark, picked, "pick long, vec_id long, rel long, score long"
    ).orderBy("pick")


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
    w = W.partitionBy("a_id").orderBy(F.desc("dot"), "cand")
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
    "j_embedding_zscore",
    oracle="""
WITH src AS (
  SELECT vec_id, label, i,
    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS q
  FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
  WHERE embedding IS NOT NULL
),
dim_stats AS (
  -- 128-bit sums: q reaches 1e10 on unnormalized embeddings, so
  -- q*q (1e20) and corpus-scale sum(q) both overflow int64
  SELECT i,
    CAST(count(*) AS BIGINT) AS n,
    sum(CAST(q AS HUGEINT)) AS s1,
    sum(CAST(q AS HUGEINT) * q) AS s2
  FROM src GROUP BY i
),
z AS (
  SELECT s.vec_id, s.label,
    CAST(round(
      (CAST(s.q AS DOUBLE) - CAST(d.s1 AS DOUBLE) / d.n)
      / sqrt(CAST(d.s2 AS DOUBLE) / d.n
             - (CAST(d.s1 AS DOUBLE) / d.n) * (CAST(d.s1 AS DOUBLE) / d.n))
      * 1000, 0) AS BIGINT) AS z_milli
  FROM src s JOIN dim_stats d ON s.i = d.i
)
SELECT label,
  CAST(count(*) AS BIGINT) AS n_values,
  CAST(sum(z_milli) AS BIGINT) AS sum_z_milli,
  CAST(sum(abs(z_milli)) AS BIGINT) AS sum_abs_z_milli,
  CAST(max(abs(z_milli)) AS BIGINT) AS max_abs_z_milli
FROM z GROUP BY label ORDER BY label
""",
    tags=("J10", "D8", "H3"),
)
def j_embedding_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization (z-scoring) of the embedding
    matrix — the whitening-lite step distance-based models need when
    dimensions carry unequal variance (j_embedding_dim_variance
    detects the problem; this fixes it). Per-dim μ/σ derive from
    EXACT integer sums; each z-value computes in one identical
    double sequence and is immediately quantized to integer
    milli-units, so every downstream aggregate (per-label checksums,
    max |z| — the clipping diagnostic) is bit-exact. The dim-stats
    table (64 rows) broadcasts back onto the exploded values.
    """
    e = load_table(spark, sf_dir, "embeddings")
    src = e.select(
        "vec_id", "label", F.posexplode(F.col("embedding")).alias("i0", "x")
    ).select(
        "vec_id",
        "label",
        (F.col("i0") + 1).alias("i"),
        F.round(F.col("x").cast("double") * 1000000, 0).cast("long").alias("q"),
    )
    # 128-bit (DECIMAL(38,0)) sums: q reaches 1e10 on unnormalized
    # embeddings, so q*q (1e20) and corpus-scale Σq overflow int64
    # (extremes fixture; at 1e9 vectors Σq alone exceeds 2^63)
    dim_stats = src.groupBy("i").agg(
        F.count("*").alias("n"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.expr("CAST(q AS DECIMAL(38,0)) * q")).alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mu * mu
    # zero-variance dims z-score to NULL (try_divide, DuckDB x/0
    # semantics) instead of aborting under ANSI
    z = src.join(F.broadcast(dim_stats), "i").select(
        "label",
        F.round(
            F.try_divide(F.col("q").cast("double") - mu, F.sqrt(var)) * 1000,
            0,
        )
        .cast("long")
        .alias("z_milli"),
    )
    return (
        z.groupBy("label")
        .agg(
            F.count("*").alias("n_values"),
            F.sum("z_milli").alias("sum_z_milli"),
            F.sum(F.abs("z_milli")).alias("sum_abs_z_milli"),
            F.max(F.abs("z_milli")).alias("max_abs_z_milli"),
        )
        .orderBy("label")
    )


@register(
    "j_filtered_knn",
    oracle="""
WITH src AS MATERIALIZED (
  SELECT vec_id, label, i,
    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS q
  FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
  WHERE embedding IS NOT NULL
),
rel AS MATERIALIZED (
  -- 128-bit product sum: q·q reaches 1e20 on unnormalized embeddings
  SELECT b.vec_id, b.label, CAST(sum(CAST(a.q AS HUGEINT) * b.q) // 1000000 AS BIGINT) AS dot
  FROM src a JOIN src b ON a.i = b.i
  WHERE a.vec_id = 0 AND b.vec_id <> 0
  GROUP BY b.vec_id, b.label
),
target_label AS (SELECT label FROM embeddings WHERE vec_id = 0),
pre AS (
  SELECT vec_id, dot, row_number() OVER (ORDER BY dot DESC, vec_id) AS rn
  FROM rel WHERE label = (SELECT label FROM target_label)
),
post_pool AS (
  SELECT vec_id, label, dot, row_number() OVER (ORDER BY dot DESC, vec_id) AS rn
  FROM rel
),
post AS (
  SELECT vec_id, dot, row_number() OVER (ORDER BY dot DESC, vec_id) AS rn
  FROM post_pool WHERE rn <= 20 AND label = (SELECT label FROM target_label)
)
SELECT
  CAST((SELECT count(*) FROM pre WHERE rn <= 5) AS BIGINT) AS n_pre,
  CAST((SELECT count(*) FROM post WHERE rn <= 5) AS BIGINT) AS n_post,
  CAST((SELECT count(*) FROM pre p JOIN post q ON p.vec_id = q.vec_id
        WHERE p.rn <= 5 AND q.rn <= 5) AS BIGINT) AS n_overlap,
  CAST((SELECT count(*) FROM pre p JOIN post q ON p.vec_id = q.vec_id
        WHERE p.rn <= 5 AND q.rn <= 5) * 1000000 // 5 AS BIGINT) AS recall_ppm
""",
    tags=("J8", "J10", "F3"),
)
def j_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search, both strategies: PRE-filter (restrict
    to the query's label, then take top-5 — always returns 5 true
    neighbors) versus POST-filter (global top-20, then filter by
    label, then top-5 — the cheap strategy that LOSES results when
    the filter is selective). The in-plan recall of post vs pre is
    the number every vector store quotes when justifying filtered
    indexes; here it's MEASURED on exact integer dot products, so
    the comparison is about strategy, not index approximation.
    """
    e = load_table(spark, sf_dir, "embeddings")
    src = e.select(
        "vec_id", "label", F.posexplode(F.col("embedding")).alias("i0", "x")
    ).select(
        "vec_id",
        "label",
        (F.col("i0") + 1).alias("i"),
        F.round(F.col("x").cast("double") * 1000000, 0).cast("long").alias("q"),
    )
    qv = src.filter(F.col("vec_id") == 0).select(
        F.col("i").alias("qi"), F.col("q").alias("qq")
    )
    rel = (
        src.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv), F.col("i") == F.col("qi"))
        .groupBy("vec_id", "label")
        .agg(
            F.expr(
                "CAST(sum(CAST(q AS DECIMAL(38,0)) * qq)"
                " div 1000000 AS LONG)"
            ).alias("dot")
        )
    )
    t_label = (
        e.filter(F.col("vec_id") == 0)
        .select(F.col("label").alias("t_label"))
        .distinct()  # a duplicated query row must stay ONE parameter
    )
    rel_l = rel.crossJoin(F.broadcast(t_label))
    w = W.orderBy(F.desc("dot"), "vec_id")
    pre = (
        rel_l.filter(F.col("label") == F.col("t_label"))
        .select("vec_id", "dot", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
    )
    post_pool = rel_l.select(
        "vec_id", "label", "t_label", "dot", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 20)
    post = (
        post_pool.filter(F.col("label") == F.col("t_label"))
        .select("vec_id", "dot", F.row_number().over(w).alias("rn2"))
        .filter(F.col("rn2") <= 5)
    )
    n_pre = pre.count()
    n_post = post.count()
    n_overlap = pre.select("vec_id").join(post.select("vec_id"), "vec_id").count()
    # anchor on range(1), not a fixture table: the summary row must
    # exist even when every table is empty (the oracle's scalar
    # subqueries always yield one row)
    return spark.range(1).select(
        F.lit(n_pre).cast("long").alias("n_pre"),
        F.lit(n_post).cast("long").alias("n_post"),
        F.lit(n_overlap).cast("long").alias("n_overlap"),
        F.lit(n_overlap * 1000000 // 5).cast("long").alias("recall_ppm"),
    )


@register(
    "j_code_detector",
    oracle="""
WITH feats AS (
  SELECT source,
    length(text) AS n_chars,
    length(text) - length(replace(replace(replace(replace(text, ';', ''), '{', ''), '}', ''), '=', '')) AS n_symbols,
    len(string_split(text, ' ')) AS n_words
  FROM documents WHERE length(text) > 0
),
classed AS (
  SELECT source,
    CASE WHEN n_symbols * 1000 > n_chars * 5
          OR (n_words > 0 AND n_chars * 10 > n_words * 120)
         THEN 1 ELSE 0 END AS is_code
  FROM feats
)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(is_code) AS BIGINT) AS n_code,
  CAST(sum(is_code) * 1000000 // count(*) AS BIGINT) AS code_ppm
FROM classed GROUP BY source ORDER BY source
""",
    tags=("J2", "H1"),
)
def j_code_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic code-vs-prose routing: a document flags as code when
    code-symbol density (;{}=) exceeds 0.5% of characters OR mean
    word length exceeds 12 — the cheap pre-filter that routes corpus
    shards to code-specific cleaning before any model-based
    classifier runs. Thresholds compare as integer
    cross-multiplications (n_symbols·1000 > n_chars·5), so the
    routing decision can't flap; per-source code share is the
    mixture report.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    stripped = F.translate(F.col("text"), ";{}=", "")
    feats = d.select(
        "source",
        F.length("text").cast("long").alias("n_chars"),
        (F.length("text") - F.length(stripped)).cast("long").alias("n_symbols"),
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
    )
    is_code = F.when(
        (F.col("n_symbols") * 1000 > F.col("n_chars") * 5)
        | ((F.col("n_words") > 0) & (F.col("n_chars") * 10 > F.col("n_words") * 120)),
        1,
    ).otherwise(0)
    return (
        feats.select("source", is_code.alias("is_code"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("is_code").alias("n_code"),
            F.expr("sum(is_code) * 1000000 div count(*)").alias("code_ppm"),
        )
        .orderBy("source")
    )


@register(
    "j_intrinsic_dimension",
    oracle="""
WITH src AS MATERIALIZED (
  SELECT vec_id, i,
    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS q
  FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
  WHERE embedding IS NOT NULL AND vec_id < 200
),
d2 AS (
  -- 128-bit per-term square: |a.q - b.q| reaches 1e10 on
  -- unnormalized embeddings, so the square overflows int64
  SELECT a.vec_id AS va, b.vec_id AS vb,
    CAST(sum(CAST(a.q - b.q AS HUGEINT) * (a.q - b.q) // 1000000) AS BIGINT) AS dist2
  FROM src a JOIN src b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
sym AS (
  SELECT va AS v, vb AS o, dist2 FROM d2
  UNION ALL
  SELECT vb, va, dist2 FROM d2
),
ranked AS (
  SELECT v, dist2,
    row_number() OVER (PARTITION BY v ORDER BY dist2, o) AS rn
  FROM sym
),
pairs AS (
  SELECT v,
    max(CASE WHEN rn = 1 THEN dist2 END) AS r1,
    max(CASE WHEN rn = 2 THEN dist2 END) AS r2
  FROM ranked GROUP BY v
),
terms AS (
  SELECT CAST(round(ln(CAST(r2 AS DOUBLE) / r1) * 1000000 / 2, 0) AS BIGINT) AS mu_micro
  FROM pairs WHERE r1 > 0
)
SELECT
  CAST(count(*) AS BIGINT) AS n_points,
  CAST(sum(mu_micro) AS BIGINT) AS sum_mu_micro,
  CAST(count(*) * 1000000 // greatest(sum(mu_micro), 1) AS BIGINT) AS id_estimate,
  CAST(count(*) * 1000000000 // greatest(sum(mu_micro), 1) AS BIGINT) AS id_milli
FROM terms
""",
    tags=("J10", "D8"),
)
def j_intrinsic_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intrinsic dimension of the embedding manifold by the two-NN
    MLE (Facco et al.): per point, μ = ln(r₂/r₁)/2 over its two
    nearest neighbors; ID ≈ n/Σμ — the diagnostic that says how much
    of the 64 ambient dimensions the data actually uses (drives
    index choice and compression targets). Per-point μ quantizes to
    integer micro-units immediately (each ln runs once on an
    exactly-agreed rational of integer squared distances), so the
    accumulation is order-free integer addition — the d_pmi_cells
    rounding discipline. The exact 2-NN scan is documented
    bounded-n (200 points) ground truth, the same contract as
    j_sim_self_join's exact twin; the scale path substitutes the
    LSH/IVF neighbor candidates already registered.
    """
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    src = e.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("i0", "x")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.round(F.col("x").cast("double") * 1000000, 0).cast("long").alias("q"),
    )
    a = src.alias("a")
    b = src.alias("b")
    d2 = (
        a.join(b, (F.col("a.i") == F.col("b.i")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .groupBy(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
        # 128-bit per-term square (extremes fixture: q spans ±1e10)
        .agg(
            F.sum(
                F.expr(
                    "CAST(CAST(a.q - b.q AS DECIMAL(38,0)) * (a.q - b.q)"
                    " div 1000000 AS LONG)"
                )
            ).alias("dist2")
        )
    )
    sym = d2.select(F.col("va").alias("v"), F.col("vb").alias("o"), "dist2").unionByName(
        d2.select(F.col("vb").alias("v"), F.col("va").alias("o"), "dist2")
    )
    w = W.partitionBy("v").orderBy("dist2", "o")
    ranked = sym.select("v", "dist2", F.row_number().over(w).alias("rn"))
    pairs = ranked.groupBy("v").agg(
        F.max(F.when(F.col("rn") == 1, F.col("dist2"))).alias("r1"),
        F.max(F.when(F.col("rn") == 2, F.col("dist2"))).alias("r2"),
    )
    terms = pairs.filter(F.col("r1") > 0).select(
        F.round(
            F.log(F.col("r2").cast("double") / F.col("r1")) * 1000000 / 2, 0
        )
        .cast("long")
        .alias("mu_micro")
    )
    # ID = n/Σμ = n·1e6/Σμ_micro directly: the earlier divide-the-divisor
    # form (÷(Σμ_micro div 1e6)) truncated a ~5.5 divisor to 5 and
    # reported 40 for a true 36.3 — caught by the round-5 independent-
    # derivation sweep (tests/test_indep_ml_r5.py). Numerator n·1e9 is
    # bounded (n ≤ 200 documented), so no overflow concern.
    return terms.agg(
        F.count("*").alias("n_points"),
        F.sum("mu_micro").alias("sum_mu_micro"),
        F.expr("count(*) * 1000000 div greatest(sum(mu_micro), 1)").alias(
            "id_estimate"
        ),
        F.expr("count(*) * 1000000000 div greatest(sum(mu_micro), 1)").alias(
            "id_milli"
        ),
    )


@register(
    "j_matryoshka_recall",
    oracle="""
WITH src AS MATERIALIZED (
  SELECT vec_id, i,
    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS q
  FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
  WHERE embedding IS NOT NULL
),
dots AS MATERIALIZED (
  SELECT b.vec_id,
    -- 128-bit product sums: q·q reaches 1e20 on unnormalized embeddings
    CAST(sum(CAST(a.q AS HUGEINT) * b.q) // 1000000 AS BIGINT) AS dot_full,
    CAST(sum(CASE WHEN a.i <= 8 THEN CAST(a.q AS HUGEINT) * b.q ELSE 0 END) // 1000000 AS BIGINT) AS dot_8
  FROM src a JOIN src b ON a.i = b.i
  WHERE a.vec_id = 0 AND b.vec_id <> 0
  GROUP BY b.vec_id
),
top_full AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY dot_full DESC, vec_id) AS rn FROM dots
  ) WHERE rn <= 10
),
top_8 AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY dot_8 DESC, vec_id) AS rn FROM dots
  ) WHERE rn <= 10
)
SELECT
  CAST((SELECT count(*) FROM top_full) AS BIGINT) AS k,
  CAST((SELECT count(*) FROM top_full f JOIN top_8 e ON f.vec_id = e.vec_id) AS BIGINT)
    AS n_overlap,
  CAST((SELECT count(*) FROM top_full f JOIN top_8 e ON f.vec_id = e.vec_id)
       * 1000000 // 10 AS BIGINT) AS recall_ppm
""",
    tags=("J10", "J8", "F3"),
)
def j_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka retrieval recall: the top-10 neighbors of the query
    under the TRUNCATED 8-dim prefix versus under the full 64 dims,
    overlap measured exactly — the number that decides whether an
    MRL prefix is good enough to serve retrieval (the variance view,
    j_matryoshka_energy, says how much ENERGY the prefix keeps; this
    says how much of the ANSWER it keeps — the operational
    question). Both rankings derive from one dot-product scan (the
    prefix dot is a conditional sum inside the same aggregate — no
    second pass), integer micro-units, vec_id tie-breaks.
    """
    e = load_table(spark, sf_dir, "embeddings")
    src = e.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("i0", "x")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.round(F.col("x").cast("double") * 1000000, 0).cast("long").alias("q"),
    )
    qv = src.filter(F.col("vec_id") == 0).select(
        F.col("i").alias("qi"), F.col("q").alias("qq")
    )
    dots = (
        src.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv), F.col("i") == F.col("qi"))
        .groupBy("vec_id")
        .agg(
            F.expr(
                "CAST(sum(CAST(q AS DECIMAL(38,0)) * qq)"
                " div 1000000 AS LONG)"
            ).alias("dot_full"),
            F.expr(
                "CAST(sum(CASE WHEN i <= 8 THEN CAST(q AS DECIMAL(38,0)) * qq"
                " ELSE 0 END) div 1000000 AS LONG)"
            ).alias("dot_8"),
        )
    )
    top_full = (
        dots.select(
            "vec_id", F.row_number().over(W.orderBy(F.desc("dot_full"), "vec_id")).alias("rn")
        )
        .filter(F.col("rn") <= 10)
        .select("vec_id")
    )
    top_8 = (
        dots.select(
            "vec_id", F.row_number().over(W.orderBy(F.desc("dot_8"), "vec_id")).alias("rn")
        )
        .filter(F.col("rn") <= 10)
        .select(F.col("vec_id").alias("v8"))
    )
    n_overlap = top_full.join(top_8, top_full.vec_id == F.col("v8")).count()
    # k is MEASURED (min(10, corpus size) — the oracle counts its own
    # top list); the summary row anchors on range(1) so it exists even
    # on an empty corpus
    k = top_full.count()
    return spark.range(1).select(
        F.lit(k).cast("long").alias("k"),
        F.lit(n_overlap).cast("long").alias("n_overlap"),
        F.lit(n_overlap * 1000000 // 10).cast("long").alias("recall_ppm"),
    )


@register(
    "j_hamming_knn",
    oracle="""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
j AS (
  SELECT e.vec_id, e.label, e.embedding, q.qv
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
)
SELECT vec_id, label,
  CASE WHEN embedding IS NULL OR qv IS NULL THEN NULL
       ELSE CAST(list_sum([CASE WHEN (embedding[i] >= 0) != (qv[i] >= 0)
                 THEN 1 ELSE 0 END FOR i IN range(1, 65)]) AS BIGINT) END
    AS hamming
FROM j
ORDER BY hamming NULLS LAST, vec_id LIMIT 10
""",
    tags=("J8", "H5"),
)
def j_hamming_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-embedding retrieval: binarize every dimension to its
    sign bit and rank by Hamming distance to the query — the 256×
    compression (64 floats → 64 bits) that makes web-scale first-stage
    retrieval affordable; integer distances mean the top-k cut is
    EXACTLY reproducible cross-engine (no float rounding contract
    needed, unlike cosine). The query row is broadcast-joined (no
    driver-side literal), the distance is one zip_with/aggregate pair
    inside codegen, and the global top-10 is TakeOrderedAndProject —
    no full sort at any scale."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    j = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    hamming = F.aggregate(
        F.zip_with(
            "embedding",
            "qv",
            lambda a, b: ((a >= 0) != (b >= 0)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        j.select("vec_id", "label", hamming.alias("hamming"))
        # nulls LAST (SQL convention; Spark asc defaults nulls first):
        # unknown vectors rank after every known distance
        .orderBy(F.col("hamming").asc_nulls_last(), "vec_id")
        .limit(10)
    )


@register(
    "j_pq_adc",
    oracle="""
SELECT CAST(10 AS BIGINT) AS k,
       CAST(32 AS BIGINT) AS compression_x,
       TRUE AS recall_ok
""",
    tags=("J8",),
)
def j_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (J8 scale path #3, beside LSH and
    IVF): m=8 subspaces × 16 codes — 64-dim float vectors (256 B)
    score from 8-byte codes via a broadcast asymmetric-distance
    table (32× memory compression), then the ADC top-100 shortlist is
    re-ranked EXACTLY on the float vectors (the production two-stage
    shape — the quantizer generates candidates, the exact metric makes
    the cut). In-plan invariant: the final top-10 must recover ≥ 60%
    of the exact L2 top-10 (measured 8-10/10 across the gate scales;
    the codebook build is cross-run deterministic via seeded init +
    6-decimal rounding before every argmin). Oracle reproduces k, the
    compression factor, and TRUE."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = query_vector(e, sf_dir, missing=[0.0] * 64)
    pq = S.pq_adc_knn(e, qv, k=10).select("vec_id", F.lit(1).alias("hit"))
    qarr = F.array(*[F.lit(x) for x in qv])
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
        e.select("vec_id", F.round(d2, 4).alias("d2"))
        .orderBy("d2", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    return exact.join(pq, "vec_id", "left").agg(
        F.lit(10).cast("bigint").alias("k"),
        F.lit(32).cast("bigint").alias("compression_x"),
        (F.count("hit") >= 0.6 * F.count("*")).alias("recall_ok"),
    )


@register(
    "j_kmeans_purity",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(8 AS BIGINT) AS k,
       TRUE AS inertia_decreased,
       TRUE AS purity_above_random
FROM embeddings
""",
    tags=("J8", "J10"),
)
def j_kmeans_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus clustering quality: k=8 Lloyd k-means over the
    embeddings (seeded init = first-8 vectors, 2 rounds, distances
    rounded to 6 decimals before every argmin — the determinism
    convention shared with pq_build) with TWO in-plan invariants the
    oracle pins: (1) Lloyd's guarantee that total inertia is
    non-increasing round over round — the property that catches a
    broken centroid update; (2) majority-label purity above the
    1/|labels| random floor — clustering must recover label structure
    better than chance. Assignment is a broadcast-k scoring (k×dim
    centroids only), update is a posexplode mean: nothing
    corpus-sized reaches the driver."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    # NULL vectors cannot be clustered — drop them; an empty (or
    # all-NULL) corpus refuses loudly: k-means on nothing is undefined
    e = e.filter(F.col("v").isNotNull())
    k = 8
    seeds = e.orderBy("vec_id").limit(k).select("v").collect()
    cents = [[float(x) for x in r["v"]] for r in seeds]
    if not cents:
        raise ValueError(
            "j_kmeans_purity: corpus has no non-NULL vectors to cluster"
        )

    def assign(cents_: list[list[float]]) -> DataFrame:
        k_eff = len(cents_)
        # ONE transform over a nested k×dim literal (round-11, guide
        # §7.3 plan size) instead of k separate 64-literal L2 trees +
        # a k-deep when-chain: same fold per element, argmin
        # tie-breaks to the lowest index (array_position = first
        # match, matching the old low-index-wins chain); NULL/NaN
        # handling identical (array_min skips NULLs like least, Spark
        # `=` and array_position both treat NaN=NaN as true).
        cm = lit_matrix(cents_)
        d2s = F.transform(
            cm,
            lambda c: F.round(
                F.aggregate(
                    F.zip_with("v", c, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ),
        )
        scored = e.select("vec_id", "label", "v", d2s.alias("d2s"))
        if k_eff == 1:  # 1 seed = 1 cluster
            return scored.select(
                "vec_id", "label", "v",
                F.lit(0).alias("cluster"), F.col("d2s")[0].alias("d2"),
            )
        # One-pass argmin via array_min over struct(nullflag, d2, i):
        # the d2s array is evaluated once (array_position(d2s,
        # array_min(d2s)) re-ran the interpreted scoring per use). The
        # nullflag field reproduces array_min's NULL-SKIP: a NULL d2
        # (ragged vector under zip_with) sorts (1, …) AFTER every real
        # distance (0, …) instead of winning as struct-NULL-smallest
        # would; all-NULL rows keep the old -1 sentinel and NULL d2.
        # NaN stays greatest, ties break to the lowest index.
        best = F.array_min(
            F.transform(
                F.col("d2s"),
                lambda d, i: F.struct(
                    d.isNull().cast("int").alias("nn"),
                    F.coalesce(d, F.lit(float("inf"))).alias("d"),
                    i.alias("i"),
                ),
            )
        )
        # Alias `best` in its own projection (round-12, ADVICE r11):
        # the final select references it four times, and CollapseProject
        # keeps an expensive alias used more than once in a separate
        # Project — inlined, the struct transform re-ran per reference
        # (the exact duplication ivf_build/_assign_rows guard against).
        sb = scored.select("vec_id", "label", "v", best.alias("__b"))
        cluster = (
            F.when(F.col("__b")["nn"] == 0, F.col("__b")["i"])
            .otherwise(F.lit(-1))
            .cast("int")
        )
        return sb.select(
            "vec_id", "label", "v",
            cluster.alias("cluster"),
            F.when(F.col("__b")["nn"] == 0, F.col("__b")["d"]).alias("d2"),
        )

    def update(asg: DataFrame) -> list[list[float]]:
        # centroid update in ONE shuffle (round-11, guide §2.3): the
        # posexplode → (cluster,pos) avg → collect_list path shuffled
        # dim×n exploded rows through two exchanges; per-dimension avg
        # aggregates ship one partial per (cluster, dim). Same
        # per-partition fold over the same values in the same order →
        # identical doubles.
        dim = len(cents[0])
        rows = (
            asg.groupBy("cluster")
            .agg(
                F.array(
                    *[F.round(F.avg(F.col("v")[i]), 6) for i in range(dim)]
                ).alias("c")
            )
            .collect()
        )
        got = {r["cluster"]: [float(x) for x in r["c"]] for r in rows}
        return [got.get(ci, cents[ci]) for ci in range(len(cents))]

    asg1 = assign(cents)
    inertia1 = asg1.agg(F.sum("d2").alias("i")).collect()[0]["i"]
    cents2 = update(asg1)
    asg2 = assign(cents2)
    inertia2 = asg2.agg(F.sum("d2").alias("i")).collect()[0]["i"]

    lbl = asg2.groupBy("cluster", "label").agg(F.count("*").alias("n"))
    w = W.partitionBy("cluster").orderBy(F.desc("n"), "label")
    maj = (
        lbl.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .agg(F.sum("n").alias("majority_total"))
    )
    n_labels = e.select("label").distinct().count()
    return maj.crossJoin(e.agg(F.count("*").alias("n_vectors"))).select(
        F.col("n_vectors").cast("long"),
        F.lit(k).cast("long").alias("k"),
        F.lit(bool(inertia2 <= inertia1)).alias("inertia_decreased"),
        # with ≤1 distinct label the random floor IS 100% — purity
        # trivially equals it, so the strictly-above test is vacuously
        # satisfied (matches the oracle's constant TRUE)
        (
            (F.col("majority_total") * n_labels > F.col("n_vectors"))
            | F.lit(n_labels <= 1)
        ).alias("purity_above_random"),
    )


@register(
    "j_ivf_pq",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(10 AS BIGINT) AS k,
       TRUE AS recall_ok
FROM embeddings
""",
    tags=("J8",),
)
def j_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composite index billion-scale ANN actually ships:
    an IVF coarse quantizer narrows the search to the probed inverted
    lists, vectors are stored as PQ codes of their RESIDUAL from the
    list centroid (residuals are smaller → the same 8 bytes quantize
    them more accurately than raw vectors), candidates are scored by
    asymmetric distance against per-list query residuals, and the
    shortlist is re-ranked exactly. Here: 8 lists / 4 probed, m=8×16
    codes on residuals, top-200 shortlist, exact top-10. In-plan
    invariant: ≥ 60% of the exact L2 top-10 recovered (measured 9-10/10
    at the gate scales; the shortlist size is the recall knob — 40
    gave 5/10 at sf0.1, 200 gives 9/10 for the same scan cost class). Every stage is DataFrame ops; only
    the two codebooks (8×64 + 8×16×8 floats) touch the driver."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    row = e.filter(F.col("vec_id") == 0).select("v").head()
    qv = (
        [float(x) for x in row["v"]]
        if row and row["v"] is not None
        else [0.0] * 64
    )

    # coarse quantizer: 8 lists over raw vectors. return_vec (round 12,
    # guide §2.4): the assignments carry the scored vector, so the
    # residual build below subtracts centroids directly off the
    # assignment table instead of shuffle-joining the whole embeddings
    # corpus back onto it (the r11 plan's biggest remaining exchange).
    asg, cents = S.ivf_build(
        load_table(spark, sf_dir, "embeddings"), k=8, iters=1, return_vec=True
    )
    import math

    def l2(a: list[float], b: list[float]) -> float:
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    probes = sorted(range(len(cents)), key=lambda ci: (l2(cents[ci], qv), ci))[:4]

    # residual vectors for ALL corpus rows (cluster centroid subtracted)
    cent_df = local_df(
        spark, [(ci, c) for ci, c in enumerate(cents)], "cluster int, cent array<double>"
    )
    resid = (
        asg.withColumnRenamed("embedding", "v")
        .join(F.broadcast(cent_df), "cluster")
        .select(
            "vec_id",
            "cluster",
            F.zip_with("v", "cent", lambda a, b: a - b).alias("embedding"),
        )
        # Materialize once (guide §3.3/§7.3, the q_triangle_count
        # treatment): pq_build's Lloyd rounds + encode launch ~6 driver
        # actions whose lineage otherwise re-runs scan → k-means assign
        # → residual zip per action AND re-optimizes a ~100 KB plan per
        # job — measured to dominate this entry's wall at gate scale.
        # DISK_ONLY for the same 1g-heap reason as triangle count; at
        # 100 TB the write is amortized over the 6 reuses. Same eager/
        # executor-loss caveats as documented on q_triangle_count.
        .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    )
    codes, book = S.pq_build(resid, m=8, k=16)

    # per-probed-list query residual → its own ADC distance table
    rows = []
    for ci in probes:
        qres = [a - b for a, b in zip(qv, cents[ci])]
        sub_len = len(qres) // 8
        for (s_, c_), cent in sorted(book.items()):
            qs = qres[s_ * sub_len : (s_ + 1) * sub_len]
            rows.append((ci, s_, c_, round(l2(qs, cent), 6)))
    dtab = local_df(spark, rows, "cluster int, sub int, code int, d2 double")

    # project the vector OFF before the code join: only (id, cluster)
    # is needed to route codes, and an opaque wide column crossing the
    # exchange is pure shuffle weight (guide §2.3)
    cand_codes = codes.join(
        asg.select(F.col("vec_id").alias("id"), "cluster").filter(
            F.col("cluster").isin(probes)
        ),
        "id",
    )
    adc = (
        cand_codes.join(F.broadcast(dtab), ["cluster", "sub", "code"])
        .groupBy("id")
        .agg(F.round(F.sum("d2"), 4).alias("adc"))
    )
    shortlist = adc.orderBy("adc", "id").limit(200).select(F.col("id").alias("vec_id"))
    qarr = F.array(*[F.lit(x) for x in qv])
    exact_d2 = F.aggregate(
        F.zip_with("v", qarr, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    ivfpq_top = (
        e.join(F.broadcast(shortlist), "vec_id")
        .select("vec_id", F.round(exact_d2, 4).alias("d2"))
        .orderBy("d2", "vec_id")
        .limit(10)
        .select("vec_id", F.lit(1).alias("hit"))
    )
    exact_top = (
        e.select("vec_id", F.round(exact_d2, 4).alias("d2"))
        .orderBy("d2", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    return exact_top.join(ivfpq_top, "vec_id", "left").crossJoin(
        e.agg(F.count("*").alias("n_vectors"))
    ).agg(
        F.max("n_vectors").alias("n_vectors"),
        F.lit(10).cast("bigint").alias("k"),
        (F.count("hit") >= 0.6 * F.count("*")).alias("recall_ok"),
    )


@register(
    "j_feature_hashing",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
  FROM documents WHERE doc_id < 20
),
hashed AS (
  SELECT doc_id,
    substr(md5(w), 1, 1) AS bucket,
    CASE WHEN substr(md5(w), 2, 1) >= '8' THEN -1 ELSE 1 END AS sgn
  FROM tok WHERE len(w) >= 2
),
dims AS (
  SELECT doc_id, bucket, sum(sgn) AS v FROM hashed GROUP BY doc_id, bucket
)
SELECT doc_id,
  CAST(sum(abs(v)) AS BIGINT) AS l1_norm,
  CAST(count(*) FILTER (WHERE v <> 0) AS BIGINT) AS nnz_dims,
  CAST(sum(v) AS BIGINT) AS signed_total
FROM dims GROUP BY doc_id ORDER BY doc_id
""",
    tags=("J7", "H4"),
)
def j_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing-trick vectorizer — the zero-vocabulary featurizer
    (Weinberger et al.) a pipeline uses when an embedding model is too
    expensive: each token hashes straight into one of 16 dimensions
    (first md5 hex digit) with a hash-derived sign (second digit ≥ '8'
    → −1), so the 'embedding' needs no vocabulary build, no model, and
    merges by addition. md5 is the cross-engine hash (the
    d_hash_collision_census convention — Spark xxhash64 and the
    oracle's hash() never agree). Emits per-document L1 norm, active
    dimensions, and the signed total; everything integer-exact. One
    explode + two hash-aggregates; the dimension key space is 16 —
    the shuffle carries almost nothing."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w")
    ).filter(F.length("w") >= 2)
    hashed = tok.select(
        "doc_id",
        F.substring(F.md5("w"), 1, 1).alias("bucket"),
        F.when(F.substring(F.md5("w"), 2, 1) >= "8", -1).otherwise(1).alias("sgn"),
    )
    dims = hashed.groupBy("doc_id", "bucket").agg(F.sum("sgn").alias("v"))
    return (
        dims.groupBy("doc_id")
        .agg(
            F.sum(F.abs("v")).alias("l1_norm"),
            F.count(F.when(F.col("v") != 0, 1)).alias("nnz_dims"),
            F.sum("v").alias("signed_total"),
        )
        .orderBy("doc_id")
    )


@register(
    "j_retrieval_metrics",
    oracle="""
WITH q AS (SELECT embedding AS qv, label AS qlabel FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.label, q.qlabel,
    round(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
         / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_inner_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))), 4) AS sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
),
topk AS (
  SELECT label = qlabel AS rel,
    row_number() OVER (ORDER BY sim DESC, vec_id) AS rnk
  FROM scored ORDER BY sim DESC, vec_id LIMIT 10
)
SELECT
  CAST(count(*) FILTER (WHERE rel) AS BIGINT) AS hits_at_10,
  CAST(count(*) FILTER (WHERE rel) * 1000000 // 10 AS BIGINT)
    AS precision_ppm,
  CAST(coalesce(1000000 // min(CASE WHEN rel THEN rnk END), 0) AS BIGINT)
    AS mrr_ppm
FROM topk
""",
    tags=("J8", "J10"),
)
def j_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval quality metrics over the vector stack: cosine top-10
    for the query vector, relevance = same label as the query, and the
    two integer-exact rank metrics an eval harness reports —
    precision@10 and MRR (reciprocal first-hit rank), both in ppm via
    integer division (NDCG's log discounts are deliberately out: the
    rank metrics stay bit-exact cross-engine). The top-k cut reuses
    the q_knn_cosine rounding contract (round(sim, 4) before
    ordering)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("label").alias("qlabel")
    )
    from parking_violations_data_pipeline_spark.functions.vector import cosine_sim

    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (F.col("label") == F.col("qlabel")).alias("rel"),
            F.round(
                cosine_sim(
                    F.col("embedding").cast("array<double>"),
                    F.col("qv").cast("array<double>"),
                ),
                4,
            ).alias("sim"),
        )
    )

    topk = (
        scored.orderBy(F.desc("sim"), "vec_id")
        .limit(10)
        .withColumn(
            "rnk", F.row_number().over(W.orderBy(F.desc("sim"), "vec_id"))
        )
    )
    return topk.agg(
        F.count(F.when(F.col("rel"), 1)).alias("hits_at_10"),
        F.expr("count(CASE WHEN rel THEN 1 END) * 1000000 div 10").alias(
            "precision_ppm"
        ),
        F.coalesce(
            F.expr("1000000 div min(CASE WHEN rel THEN rnk END)"), F.lit(0)
        ).alias("mrr_ppm"),
    )


@register(
    "j_batch_knn",
    oracle="""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10
),
scored AS (
  SELECT q.qid, e.vec_id,
    round(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
         / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_inner_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))), 4) AS sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid
),
ranked AS (
  SELECT qid, vec_id, sim,
    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
  FROM scored
)
SELECT qid, vec_id, sim FROM ranked WHERE rn <= 3
ORDER BY qid, rn
""",
    tags=("J8", "J7"),
)
def j_batch_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query kNN: the top-3 neighbors for TEN query
    vectors from ONE job — the query frame broadcasts onto a single
    corpus scan (corpus × queries scored in the same stage) and a
    per-query rank window makes each cut. Launching one Spark job per
    query is the classic serving-layer mistake; the batched shape
    amortizes the scan across the whole query set, which is how
    offline retrieval evaluation actually runs. Rounding-before-rank
    contract as q_knn_cosine."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(
                cosine_sim(
                    F.col("embedding").cast("array<double>"),
                    F.col("qv").cast("array<double>"),
                ),
                4,
            ).alias("sim"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("qid", "vec_id", "sim")
        .orderBy("qid", F.desc("sim"), "vec_id")
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
    qv = query_vector(e, sf_dir, missing=[0.0] * 64)
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
    qv = query_vector(e, sf_dir, missing=[0.0] * 64)
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
    qv = query_vector(e, sf_dir, missing=[0.0] * 64)
    path = warehouse_path(spark, f"annidx_app_{fixture_tag(sf_dir)}")

    def build() -> None:
        AI.ann_index_write(
            e.filter(F.col("vec_id") % 2 == 0), path, mode="ivf", n_lists=8
        )
        AI.ann_index_append(e.filter(F.col("vec_id") % 2 == 1), path)

    AI.build_once(path, build, fingerprint=fixture_stamp(sf_dir, "embeddings"))
    # n_probe=8 == every list: exact by construction
    return AI.ann_index_query(spark, path, qv, k=10, n_probe=8)
