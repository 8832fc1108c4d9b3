"""Similarity search over embedding columns (SURVEY.md §2 J7-J10).

Every cosine query path ends in the same exact re-rank: a candidate
filter, then `knn_bruteforce` — `functions.vector.cosine_to` against
the query literal, round(…,4), top-k with an id tie-break. The paths
differ only in how they pick candidates:

  * `knn_bruteforce` — every row; exact; O(n) scan, no shuffle. The
    baseline and the verify path.
  * `ann_lsh` — random-hyperplane LSH: rows whose sign-bit bucket
    (`lsh_bucket`) is in the query's multi-probe schedule
    (`lsh_probe_order`). Approximate.
  * `ivf_knn` — IVF: rows whose k-means list (`ivf_build`, assigned by
    `assign_centroids`) is among the lists nearest the query
    (`py_cosine` ranks them on the driver). Approximate.
  * `operators.ann_index` persists the LSH and IVF assignments and
    reuses `lsh_bucket`, `lsh_probe_order`, `assign_centroids`,
    `drop_directionless` and `knn_bruteforce` from here.

Beside them: `knn_pandas`, the same kNN scored by an Arrow-batched
pandas UDF (the K2 surface); `similarity_self_join`, all pairs above a
cosine threshold (exact crossJoin, or one numpy matmul per LSH
bucket); `label_centroids`; and product quantization (`pq_build`,
`pq_adc_knn`, ranked by squared L2 via `functions.vector.sq_l2_to`).

Hyperplanes are generated deterministically from a seed via a hash
mix (no RNG at plan time — resumable, cluster-reproducible).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from parking_violations_data_pipeline_spark.functions.localrel import lit_matrix, local_df
from parking_violations_data_pipeline_spark.functions.vector import (
    cosine_sim,
    cosine_to,
    dot,
    norm,
    sq_l2_to,
)


def knn_bruteforce(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against one query vector (a literal array
    — no join at all). round(…,4)+id tie-break keeps the cut
    deterministic. The ANN paths call it on their candidate rows."""
    sim = F.round(cosine_to(F.col(vec_col), query_vec), 4).alias("sim")
    return (
        embeddings.select(id_col, sim)
        .orderBy(F.desc("sim"), id_col)
        .limit(k)
    )


def py_cosine(a: list[float], b: list[float]) -> float:
    """Driver-side cosine for ranking a few centroids against the
    query; 0.0 when either vector has zero norm."""
    num = sum(x * y for x, y in zip(a, b))
    den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
    return num / den if den else 0.0


def drop_directionless(embeddings: DataFrame, vec_col: str) -> DataFrame:
    """Drop NULL and zero-norm vectors: they have no direction, so
    their cosine against anything is NULL (try_divide), no sign-bit
    bucket or nearest centroid can place them, and every cosine query
    ranks them NULL-last."""
    return embeddings.filter(
        F.col(vec_col).isNotNull() & (norm(F.col(vec_col)) > 0)
    )


def knn_pandas(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k via Arrow-batched pandas UDF (numpy dot per batch).
    Same contract as knn_bruteforce; ~10-100× faster per row than
    row-at-a-time Python, and the pattern that scales to a matrix of
    query vectors (matmul) — K2 surface."""
    import numpy as np

    q = [float(x) for x in query_vec]

    @F.pandas_udf(T.DoubleType())
    def cos(batch: pd.Series) -> pd.Series:
        # NULL embeddings score NULL (not a crash): mask them out of
        # the matmul and return a nullable Float64 series so Arrow
        # carries real NULLs back, matching the SQL NULL-propagation
        # the expression-based twin gets for free
        qv = np.asarray(q, dtype=np.float64)
        mask = batch.notna().to_numpy()
        res = pd.array([pd.NA] * len(batch), dtype="Float64")
        if mask.any():
            m = np.array(batch[mask].tolist(), dtype=np.float64)
            num = m @ qv
            with np.errstate(divide="ignore", invalid="ignore"):
                den = np.linalg.norm(m, axis=1) * np.linalg.norm(qv)
                res[mask] = num / den
        return pd.Series(res, dtype="Float64")

    return (
        embeddings.select(id_col, F.round(cos(F.col(vec_col)), 4).alias("sim"))
        .orderBy(F.desc("sim"), id_col)
        .limit(k)
    )


def _hyperplane(h: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane h: component j =
    cos(integer hash mix of (h, j)) — fixed, seedless, engine-side.

    The mix MUST be per-component pseudo-random, not an affine phase:
    the original golden-ratio spelling cos(2π(c_h + j·φ)) made every
    component a sinusoid in j with one shared frequency, so ALL planes
    lay in the 2-D subspace span{cos(2πφj), sin(2πφj)} — n planes then
    cut that plane into at most 2n sign sectors, capping the whole
    scheme at 2·H buckets no matter how many sign bits are packed
    (measured round 9: exactly 20 nonempty buckets for H=10 over a
    200k-vector decorrelated corpus; scan fraction floor 1/(2H), not
    1/2^H). cos() of a Lehmer-style integer mix is independent across
    (h, j), restoring full-rank planes: the same corpus spreads to
    ~1000 of 1024 buckets and the probed-row mass stays ~flat as the
    list count scales with n (SCALE_EXPONENTS_ANN_r9.json)."""
    return [
        math.cos((h * 524287 + j * 8191 + 1) * 48271 % 1000003)
        for j in range(dim)
    ]


def probe_dim(embeddings: DataFrame, vec_col: str = "embedding") -> int:
    """Vector dimensionality from the first NON-NULL vector (one
    small Spark job — head() on a pushed isNotNull filter). An
    all-NULL or empty corpus falls back to 64: every vector then
    buckets to 0 and scores NULL, the SQL-null outcome, instead of
    crashing on a None dim. Callers that bucket the SAME frame several
    times (banded self-join, index write) should probe once and pass
    `dim` through — the probe is a job per call otherwise."""
    dim_row = (
        embeddings.filter(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("d"))
        .head()
    )
    return dim_row["d"] if dim_row and dim_row["d"] is not None else 64


def lsh_bucket(
    embeddings: DataFrame,
    num_planes: int = 8,
    vec_col: str = "embedding",
    out: str = "bucket",
    plane_offset: int = 0,
    dim: int | None = None,
) -> DataFrame:
    """Random-hyperplane signature: bucket = bit-packed signs of
    ⟨v, plane_h⟩. Cosine-similar vectors collide with prob
    1 - θ/π per plane. Pure expressions: the planes are literal arrays
    folded into the plan (broadcast-free). `plane_offset` selects an
    INDEPENDENT plane family (h = offset + i) — the OR-amplification
    hook: banded callers hash with several offsets and union the
    candidate pairs. Pass `dim` when known to skip the probe job
    (banded callers would otherwise re-probe per band)."""
    if dim is None:
        dim = probe_dim(embeddings, vec_col)
    bucket = F.lit(0)
    for h in range(num_planes):
        plane = lit_matrix(_hyperplane(plane_offset + h, dim))
        d = dot(F.col(vec_col), plane)
        bucket = bucket + F.when(d > 0, F.lit(1 << h)).otherwise(0)
    return embeddings.withColumn(out, bucket)


def lsh_probe_order(
    query_vec: list[float], num_planes: int, max_hamming: int = 2
) -> list[int]:
    """Multi-probe schedule for a query against planes 0..num_planes-1:
    the query's own bucket (its sign bits, computed on the driver), then
    the buckets one sign-flip away (by plane index), then two flips
    away, up to `max_hamming`. Bounded: 1 + H + C(H,2) buckets whatever
    the corpus size."""
    qb = 0
    for h in range(num_planes):
        plane = _hyperplane(h, len(query_vec))
        if sum(p * q for p, q in zip(plane, query_vec)) > 0:
            qb |= 1 << h
    probes = [qb]
    if max_hamming >= 1:
        probes += [qb ^ (1 << h) for h in range(num_planes)]
    if max_hamming >= 2:
        probes += [
            qb ^ (1 << a) ^ (1 << b)
            for a in range(num_planes)
            for b in range(a + 1, num_planes)
        ]
    return probes


def ann_lsh(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    num_planes: int = 6,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via multi-probe hyperplane LSH: score only
    vectors whose bucket is within `probe_hamming` sign-flips of the
    query's bucket (a near-boundary vector lands one flipped bit away,
    so probing the Hamming-1 neighborhood recovers most of the recall
    single-probe loses). At 100 TB, bucket the corpus once (write
    partitioned by bucket) and each query touches
    ~n·C(H,≤p)/2^H rows — still a vanishing scan fraction. Recall < 1
    by construction → invariant-checked (recall-vs-exact bound)."""
    probes = lsh_probe_order(query_vec, num_planes, probe_hamming)
    cand = lsh_bucket(embeddings, num_planes, vec_col).filter(
        F.col("bucket").isin(probes)
    )
    return knn_bruteforce(cand, query_vec, k, id_col, vec_col)


def similarity_self_join(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_lsh: bool = False,
    num_planes: int | None = None,
    max_bucket: int | None = None,
    exact_cap: int = 20_000,
    bands: int = 4,
) -> DataFrame:
    """All pairs with cosine > threshold (J9). Exact mode is the
    O(n²) crossJoin — correct, oracle-checkable, only for bounded n.
    use_lsh=True buckets first and scores each bucket with one
    Arrow-batched numpy matmul over unit vectors (applyInPandas) — the
    scale path, approximate recall.

    num_planes=None auto-scales the bucket count with corpus size
    (target ~200 rows/bucket): per-bucket pair work stays ~constant as
    n grows instead of n²/2^planes blowing up (measured at 10×).

    max_bucket caps LSH bucket size: a degenerate bucket (e.g. a
    highly correlated corpus collapsing into one signature) would make
    one applyInPandas group O(n²) no matter how many planes exist —
    oversized buckets are dropped (skew cap, same policy as
    dedup.lsh_candidate_pairs) and the dropped-bucket/row counts are
    surfaced via a warning so the recall loss is visible.

    exact_cap guards the exact branch: crossJoin pair count is n²/2,
    so at 200k vectors that is 2×10¹⁰ pairs — a scale-killer if
    pointed at a real corpus. Above the cap the exact branch refuses
    (the one extra count() job is O(n) metadata-cheap next to the O(n²)
    it prevents) and the error directs callers to use_lsh=True.

    bands (OR-amplification): each vector hashes under `bands`
    INDEPENDENT plane families (disjoint h-offsets); candidate pairs
    are the UNION over bands, deduplicated. A single bucketing is an
    AND-construction only — collision prob p^H per pair — and once the
    round-9 full-rank plane fix gave buckets their true sizes, measured
    recall on sim>0.3 near-orthogonal pairs dropped to ~p^H ≈ 13% at
    2000 vectors (the rank-deficient planes' ~2H giant buckets had been
    inflating it). Banding lifts recall to 1-(1-p^H)^bands (~43% at the
    same scale, measured) for a bands× scan/shuffle cost — the same
    trade the MinHash-band dedup path makes. The banded signature is
    computed in ONE pass over the corpus (explode of a bands-element
    struct array, map-only)."""
    if use_lsh and num_planes is None:
        n = embeddings.count()
        # scale planes DOWN to zero on tiny corpora: the old max(4, ·)
        # floor put 12 vectors into 16 buckets, splitting correlated
        # pairs and cratering recall (extremes fixture). Zero planes =
        # one bucket = exact within-bucket scoring, the right plan when
        # the whole corpus fits one Arrow batch; the ~200-rows/bucket
        # target reappears smoothly as n grows.
        num_planes = min(16, (max(n, 1) // 200).bit_length())
    if num_planes is None:
        num_planes = 4
    a = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    if use_lsh:
        # pre-normalize ONCE (n norm computations, not n-per-pair): pair
        # similarity is then a single dot product
        unit = F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.try_divide(x, norm(F.col(vec_col))),
        )
        # directionless vectors cannot take part in cosine LSH (their
        # sims would be NULL anyway); drop them before bucketing instead
        # of crashing the per-bucket numpy matmul
        base = drop_directionless(embeddings, vec_col).select(
            F.col(id_col).alias("__id"), unit.alias("__vn")
        )
        # banded signature in ONE pass: hash under `bands` disjoint
        # plane families as columns, explode to (band, bucket) rows —
        # map-only, one corpus scan regardless of bands. num_planes=0
        # already means one all-in bucket, so banding degenerates to
        # identical bands there; skip the redundant copies.
        n_bands = max(1, bands) if num_planes > 0 else 1
        # probe the dimensionality ONCE: each lsh_bucket call would
        # otherwise re-run the first-non-null head() job on the
        # progressively chained frame — n_bands wasted jobs per plan
        vdim = probe_dim(base, "__vn")
        bk = base
        for bnd in range(n_bands):
            bk = lsh_bucket(
                bk, num_planes, "__vn", f"__bkt{bnd}",
                plane_offset=bnd * num_planes, dim=vdim,
            )
        bk = bk.select(
            "__id",
            "__vn",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bnd).alias("band"),
                            F.col(f"__bkt{bnd}").alias("bucket"),
                        )
                        for bnd in range(n_bands)
                    ]
                )
            ).alias("__bb"),
        ).select("__id", "__vn", "__bb.band", "__bb.bucket")
        if max_bucket is not None:
            counts = bk.groupBy("band", "bucket").agg(
                F.count("*").alias("__bc")
            )
            dropped = counts.filter(F.col("__bc") > max_bucket)
            n_dropped = dropped.agg(
                F.count("*").alias("b"), F.coalesce(F.sum("__bc"), F.lit(0)).alias("r")
            ).head()
            if n_dropped and n_dropped["b"]:
                import warnings

                warnings.warn(
                    f"similarity_self_join: dropped {n_dropped['b']} bucket(s) "
                    f"({n_dropped['r']} rows) over max_bucket={max_bucket}",
                    stacklevel=2,
                )
            keep = counts.filter(F.col("__bc") <= max_bucket).select(
                "band", "bucket"
            )
            # No broadcast hint: `keep` has one row per surviving
            # (band, bucket) pair — it scales with the corpus (up to
            # n_rows x n_bands), so a hard hint is a 100-TB
            # broadcast-cap death (round-12 sweep, guide §3.1). AQE's
            # runtime stats still broadcast it when genuinely small.
            bk = bk.join(keep, ["band", "bucket"])
        # one numpy matmul per bucket instead of one expression-tree
        # dot per pair
        import numpy as np

        thr = float(threshold)

        def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            m = np.stack(pdf["__vn"].to_numpy())
            ids = pdf["__id"].to_numpy()
            sims = np.round(m @ m.T, 4)
            iu, ju = np.triu_indices(len(ids), k=1)
            # exclude equal-ID pairs: duplicate vec_ids put two
            # copies in one bucket and triu pairs them by POSITION
            keep = (sims[iu, ju] > thr) & (ids[iu] != ids[ju])
            ia, ib = ids[iu[keep]], ids[ju[keep]]
            lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
            return pd.DataFrame(
                {"id_a": lo, "id_b": hi, "sim": sims[iu, ju][keep]}
            )

        # a pair found by several bands repeats with an IDENTICAL
        # rounded sim — distinct() collapses the band union
        return bk.groupBy("band", "bucket").applyInPandas(
            bucket_pairs, "id_a long, id_b long, sim double"
        ).distinct()
    # Lazy in-plan cap guard (scalar-subquery pattern): a 1-row
    # broadcast count that raise_errors when the corpus exceeds
    # exact_cap. This keeps the function a pure plan builder — no
    # eager count() action at call time, no double evaluation of the
    # upstream plan — while still refusing the O(n²) crossJoin before
    # it streams: the broadcast side (a column-pruned count, O(n)
    # metadata-cheap) is materialized before the probe side runs.
    guard = embeddings.groupBy().count().select(
        F.when(F.col("count") <= F.lit(exact_cap), F.lit(1))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("similarity_self_join(exact): corpus has "),
                    F.col("count").cast("string"),
                    F.lit(
                        f" vectors > exact_cap={exact_cap}; the exact "
                        "branch is an O(n²) crossJoin kept only as the "
                        "oracle-checkable ground truth for bounded n. "
                        "Use use_lsh=True (the bucketed scale path) or "
                        "raise exact_cap deliberately."
                    ),
                )
            ).cast("int")
        )
        .alias("__guard_ok")
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .crossJoin(F.broadcast(guard))
        # referencing __guard_ok in a filter keeps the raise_error
        # expression alive through column pruning
        .filter(F.col("__guard_ok") == 1)
    )
    return (
        pairs.select(
            "id_a", "id_b", F.round(cosine_sim(F.col("va"), F.col("vb")), 4).alias("sim")
        )
        .filter(F.col("sim") > threshold)
    )


def assign_centroids(
    df: DataFrame, vec_col: str, cents: list[list[float]], out: str = "cluster"
) -> DataFrame:
    """`df` plus `out` = the index of the centroid with the highest
    cosine to `vec_col`. Map-only: each physical row gets its own
    index, so duplicate ids cannot multiply as under a join-back.

    ONE `transform` over a single nested k×dim literal matrix
    (lit_matrix) instead of k separate cosine trees and a when-chain
    (round-11, guide §7.3 plan size: that form made Catalyst analysis
    dominate k-means wall time), with a one-pass argmax via array_max
    over struct(sim, -index), so each centroid's cosine is evaluated
    exactly once (an array_position(sims, array_max(sims)) spelling
    re-evaluates the interpreted scoring array per use). Struct ordering
    gives the when-chain semantics: NULL sims lose under max, NaN is
    greatest, ties break to max(-i) = the LOWEST index, and a row whose
    every sim is NULL (NULL elements, zero norm) gets the -1 sentinel.
    One centroid assigns every row to 0."""
    if len(cents) == 1:
        return df.withColumn(out, F.lit(0))
    cm = lit_matrix(cents)
    best = F.array_max(
        F.transform(
            cm,
            lambda c, i: F.struct(
                cosine_sim(F.col(vec_col), c).alias("s"), (-i).alias("ni")
            ),
        )
    )
    # Alias `best` in its own projection: the index expression
    # references it twice, and CollapseProject keeps an expensive alias
    # used more than once in a separate Project, so the scoring
    # transform runs once per row (inlining it would run it per
    # reference).
    cols = df.columns
    eb = df.select(*cols, best.alias("__b"))
    idx = F.when(
        F.col("__b")["s"].isNotNull(), (-F.col("__b")["ni"]).cast("int")
    ).otherwise(F.lit(-1))
    return eb.select(*cols, idx.alias(out))


def ivf_build(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_vec: bool = False,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: k-means (k deterministic seeds = first k
    vectors by id, `iters` Lloyd rounds) implemented with DataFrame ops
    — assignment is `assign_centroids` (one `transform` over the
    k-slot literal centroid matrix, one-pass argmax), centroid update
    is one map-side-combinable per-position mean. Only the k×dim
    centroid matrix ever reaches the driver (tiny at any corpus scale).

    Returns (assignments df (id, cluster), centroids as lists)."""
    # NULL vectors cannot be indexed (no subspace to score) — drop
    # them up front; they are equally absent from any probe result.
    embeddings = embeddings.filter(F.col(vec_col).isNotNull())
    seeds = embeddings.orderBy(id_col).limit(k).select(vec_col).collect()
    cents = [[float(x) for x in r[vec_col]] for r in seeds]
    if not cents:
        raise ValueError(
            "ivf_build: corpus has no non-NULL vectors — k-means needs "
            "at least one vector to seed a centroid"
        )
    # fewer vectors than k is fine: train that many clusters
    e = embeddings.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
    asg = assign_centroids(e, "v", cents)
    # Centroid update in ONE shuffle (round-11, guide §2.3/§2.4): the
    # old posexplode → groupBy(cluster,pos) → groupBy(cluster) path
    # shuffled dim x n exploded rows through TWO exchanges per Lloyd
    # round; a per-dimension avg (dim is known from the seeds) is a
    # single map-side-combinable aggregate whose shuffle carries one
    # partial per (cluster, dim) — k x dim values total, corpus-size
    # independent. Same arithmetic (avg over the same doubles).
    dim = len(cents[0])
    for _ in range(iters):
        rows = (
            asg.groupBy("cluster")
            .agg(
                F.array(
                    *[F.avg(F.col("v")[i]) for i in range(dim)]
                ).alias("c")
            )
            .collect()
        )
        new_cents = dict((r["cluster"], [float(x) for x in r["c"]]) for r in rows)
        cents = [new_cents.get(ci, cents[ci]) for ci in range(len(cents))]
        asg = assign_centroids(e, "v", cents)
    if return_vec:
        # round-12 (guide §2.4, VERDICT r11 item 4): the assignment
        # plan already carries the vector — returning it lets callers
        # that need (id, cluster, vector) skip a full corpus
        # shuffle-join of embeddings back onto the assignments (the
        # j_ivf_pq residual build and ivf_knn's candidate scan were
        # both paying one). The column is the array<double> cast the
        # assignment scored; elementwise coercion makes downstream
        # arithmetic identical to re-reading the source column.
        return asg.select(id_col, "cluster", F.col("v").alias(vec_col)), cents
    return asg.select(id_col, "cluster"), cents


def ivf_knn(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prebuilt: tuple[DataFrame, list[list[float]]] | None = None,
) -> DataFrame:
    """IVF ANN: score only vectors whose inverted-list cluster is among
    the n_probe centroids closest to the query. At 100 TB: build the
    index once, write the corpus partitioned by cluster, and each query
    scans ~n_probe/k of the data. Approximate (recall < 1) → rows-only
    correctness class; recall measured in tests.

    `prebuilt` = an (assignments, centroids) pair from
    `ivf_build(..., return_vec=True)`: the assignments must carry the
    vector column, since the probe scan is a filter of them. Pass it
    when issuing several probes against one corpus (the recall-curve
    shape) so the quantizer is trained ONCE — retraining per probe was
    3x the k-means cost for identical centroids (round-11, guide §1.2:
    don't compute things you throw away)."""
    asg, cents = (
        prebuilt
        if prebuilt is not None
        else ivf_build(embeddings, k=n_clusters, return_vec=True)
    )

    # tiny-corpus probe widening: with n points spread over c lists,
    # n_probe lists hold ~n·n_probe/c candidates — fewer than k when
    # n ≲ k·c/n_probe, so a small corpus can't even RETURN k rows,
    # let alone hit a recall bound. Widen to the expected-count
    # minimum. Cost is bounded at ANY corpus scale: the limit-probe
    # scans at most k·c+1 rows (LIMIT pushes into the scan), so a
    # 100-TB corpus pays a few-row peek, never a count — and it is
    # SKIPPED entirely when the caller pinned n_probe explicitly (they
    # own the recall/scan-fraction trade) or when n_probe already
    # covers every list, so the default hot path pays no extra job
    # (round-8 ADVICE fix).
    auto_probe = n_probe is None
    if n_probe is None:
        n_probe = 4
    n_probe = min(n_probe, len(cents))
    if auto_probe and n_probe < len(cents):
        cap = k * len(cents) + 1
        n_peek = (
            embeddings.filter(F.col(vec_col).isNotNull()).limit(cap).count()
        )
        if 0 < n_peek < cap:
            need = math.ceil(k * len(cents) / n_peek)
            n_probe = min(len(cents), max(n_probe, need))
    probes = sorted(
        range(len(cents)), key=lambda ci: -py_cosine(cents[ci], query_vec)
    )[:n_probe]
    # the vector-carrying assignments make the probe scan a FILTER of
    # the assignments, not a shuffle-join of the corpus back onto them
    # (round-12, guide §2.4); the carried column is the array<double>
    # cast the assignment scored, so the re-rank arithmetic is the same
    cand = asg.filter(F.col("cluster").isin(probes)).select(id_col, vec_col)
    return knn_bruteforce(cand, query_vec, k, id_col, vec_col)


def label_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Per-label centroid (J10): posexplode → (label, pos) mean →
    re-assemble ordered array. Two shuffles, both on small keys; at
    scale the (label,pos) cardinality is labels×dim — tiny."""
    ex = embeddings.select(
        label_col, F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v")
    )
    per_pos = ex.groupBy(label_col, "pos").agg(F.avg("v").alias("m"))
    return (
        per_pos.groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: F.round(s["m"], round_to)
            ).alias("centroid")
        )
    )


def pq_build(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, dict[tuple[int, int], list[float]]]:
    """Product quantization codebook + encoding — THE memory-scale ANN
    workhorse (a 64-dim float vector, 256 B, compresses to m=8 one-byte
    codes = 32×; at 100 TB of embeddings the codes fit in RAM where the
    floats never could). Spark-first design (round-11 rewrite): every
    per-vector step runs as DataFrame ops over the exploded
    (id, sub, subvec) relation — one posexplode, then assignment = a
    single `transform` over the k-slot literal centroid matrix
    (functions.localrel.lit_matrix) folded by `array_min` over
    (d2, code) structs (one-pass argmin: zero shuffle, no ×k row
    blowup), Lloyd update = one map-side-combinable per-position `avg`
    exchange. Only the codebook (m·k·sub_len floats — 1024 doubles
    here) ever reaches the driver, regardless of corpus size.

    Determinism (the cross-run contract the oracle gate needs): seeds
    are the first k vectors by id; centroid means and distances are
    rounded to 6 decimals before any argmin, so a ULP of float noise
    from shuffle order can never flip a code; argmin ties break on the
    lowest code via the (d2, code) struct ordering.

    Returns (codes df (id, sub, code), codebook dict (sub, code) → centroid).
    """
    from pyspark.sql import Window

    spark = embeddings.sparkSession
    # NULL vectors cannot be quantized — drop them; refuse loudly on a
    # corpus with none left (codebooks trained on nothing are garbage)
    embeddings = embeddings.filter(F.col(vec_col).isNotNull())
    dim_row = embeddings.select(vec_col).head()
    if dim_row is None:
        raise ValueError(
            "pq_build: corpus has no non-NULL vectors — cannot seed "
            "codebooks"
        )
    dim = len(dim_row[0])
    sub_len = dim // m
    # Subvector extraction is pure slicing (round-11, guide §2.4
    # "remove shuffles outright"): the previous posexplode →
    # groupBy(id,sub) → array_sort(collect_list) path shuffled dim×n
    # exploded rows just to reassemble contiguous slices — and the
    # shuffle re-ran in EVERY assign/update lineage (5+ passes per
    # build). slice() yields byte-identical subvectors map-side.
    subvecs = embeddings.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("int").alias("sub"),
                        F.slice(
                            F.col(vec_col).cast("array<double>"),
                            s * sub_len + 1,
                            sub_len,
                        ).alias("sv"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("e"),
    ).select("id", "e.sub", "e.sv")
    # ragged (shorter-than-dim) vectors: the explode/groupBy form
    # produced NO row for a subspace with no positions — slice()
    # yields an empty array there instead; drop it to keep the old
    # row set bit-identical
    subvecs = subvecs.filter(F.size("sv") > 0)

    # Seed codes 0..k-1 from the first k vectors IN id ORDER. Fast path
    # (round-11, guide §2.4): when those k vectors all carry the full
    # `dim` positions, their slices ARE the per-sub seeds — a k-row
    # TakeOrdered replaces the old full-corpus row_number window (a
    # shuffle of EVERY exploded subvector into m partitions just to
    # rank ids). Ragged corpora (a seed vector missing a subspace)
    # fall back to the exact window path, where a vector that lacks
    # subspace s must not seed s — bit-identical semantics preserved.
    # Rank-based either way (not `id < k`): sparse/offset id spaces
    # (ids 1000..1015) seed exactly as dense 0-based ids do.
    book: dict[tuple[int, int], list[float]] = {}
    head_rows = embeddings.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    if len(head_rows) == k and all(
        r[vec_col] is not None and len(r[vec_col]) == dim for r in head_rows
    ):
        for code, r in enumerate(head_rows):
            v = r[vec_col]
            for s in range(m):
                sv = v[s * sub_len : (s + 1) * sub_len]
                if sv:
                    book[(s, code)] = [round(float(x), 6) for x in sv]
    else:
        w_seed = Window.partitionBy("sub").orderBy("id")
        seed_rows = (
            subvecs.withColumn("__rn", F.row_number().over(w_seed))
            .filter(F.col("__rn") <= k)
            .select((F.col("__rn") - 1).alias("code"), "sub", "sv")
            .collect()  # bounded: k seeds × m subspaces
        )
        book = {
            (r["sub"], int(r["code"])): [round(float(x), 6) for x in r["sv"]]
            for r in seed_rows
        }
    if len(book) != m * k:
        raise ValueError(
            f"pq_build: expected {m * k} seed centroids (m={m} subspaces "
            f"× k={k}), got {len(book)} — corpus has fewer than k={k} "
            "vectors; lower k or add data"
        )

    def assign(book_: dict[tuple[int, int], list[float]]) -> DataFrame:
        # Zero-shuffle scoring (round-11, guide §2.4/§3 — the same
        # collapse ivf_build's assign got): the codebook lives on the
        # driver, so score each subvector against ONE nested k-per-sub
        # literal matrix via transform() instead of a broadcast join
        # (×k row blowup) followed by a row_number window — a full
        # shuffle of the n×m×k scored relation in EVERY Lloyd pass and
        # in every downstream consumer of the returned codes. Semantics
        # identical: d2 is the same rounded fold; argmin ties break to
        # the LOWEST code (array_position returns the first match, as
        # orderBy(d2, code) row_number=1 did); a NULL d2 (ragged
        # subvector vs mismatched centroid length under zip_with) wins
        # over any real distance exactly as the window's default
        # NULLS FIRST ordering did — the first-NULL branch reproduces
        # that; NaN handling matches because array_min uses the same
        # NaN-greatest ordering the sort did and array_position treats
        # NaN as equal to itself.
        cb = lit_matrix(
            [[book_[(s, c)] for c in range(k)] for s in range(m)]
        )
        cents_for_sub = F.element_at(cb, F.col("sub") + 1)
        # One-pass argmin via array_min over struct(d2, code): struct
        # ordering IS the old sort — ascending d2 with NULL smallest
        # (the window's default NULLS FIRST), NaN greatest, ties broken
        # by the second field = lowest code. Each centroid's d2 is
        # evaluated exactly once (an array_position(d2s, array_min(
        # d2s)) spelling re-evaluates the interpreted higher-order
        # scoring array per use — measured 3× the per-round cost).
        best = F.array_min(
            F.transform(
                cents_for_sub,
                lambda cent, i: F.struct(
                    F.round(
                        F.aggregate(
                            F.zip_with(
                                "sv", cent, lambda a, b: (a - b) * (a - b)
                            ),
                            F.lit(0.0),
                            lambda acc, v: acc + v,
                        ),
                        6,
                    ).alias("d"),
                    i.alias("i"),
                ),
            )
        )
        return subvecs.select(
            "id", "sub", best["i"].cast("int").alias("code"), "sv"
        )

    asg = assign(book)
    for _ in range(iters):
        # Centroid update in ONE map-side-combinable exchange (round-11,
        # guide §2.3 — same fix as ivf_build's update): per-position
        # avg over sv[i] replaces posexplode → groupBy(sub,code,spos) →
        # collect_list reassembly (dim×n exploded rows through TWO
        # exchanges per round). Ragged groups: sv slices are prefixes,
        # so present positions are exactly 0..max(size)-1 — slicing the
        # avg array to max(size) reproduces the old reassembled length,
        # including interior NULLs where a present position was NULL in
        # every row.
        upd = (
            asg.groupBy("sub", "code")
            .agg(
                F.max(F.size("sv")).alias("__L"),
                # F.get (not sv[i]): out-of-bounds positions of ragged
                # subvectors must be NULL (excluded from the avg, as
                # posexplode's absent rows were) — ANSI mode makes the
                # [] accessor THROW on them instead.
                F.array(*[F.avg(F.get("sv", i)) for i in range(sub_len)]).alias(
                    "__arr"
                ),
            )
            .select(
                "sub",
                "code",
                F.transform(
                    F.slice("__arr", F.lit(1), F.col("__L")),
                    lambda x: F.round(x, 6),
                ).alias("cent"),
            )
            .collect()  # bounded: m×k codebook rows
        )
        for r in upd:
            book[(r["sub"], r["code"])] = [float(x) for x in r["cent"]]
        asg = assign(book)
    return asg.select("id", "sub", "code"), book


def pq_adc_knn(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance top-k with exact re-rank — the
    production two-stage shape: (1) precompute the query→codebook
    distance table (m×n_codes floats, driver-side, corpus-independent),
    broadcast it, and score EVERY vector as a sum over its m codes (a
    128-row broadcast join + one groupBy — reads 8 bytes per vector
    instead of 256 at scale); (2) take the ADC `shortlist`, join back
    to the float vectors for those rows only, and rank the final k by
    exact L2. The quantizer's job is candidate generation, not the
    final cut — the cut sees exact distances on O(shortlist) rows."""
    codes, book = pq_build(embeddings, m=m, k=n_codes)
    sub_len = len(query_vec) // m
    rows = []
    for (s, c), cent in sorted(book.items()):
        qs = query_vec[s * sub_len : (s + 1) * sub_len]
        d2 = sum((a - b) * (a - b) for a, b in zip(qs, cent))
        rows.append((s, c, round(d2, 6)))
    spark = embeddings.sparkSession
    dtab = local_df(spark, rows, "sub int, code int, d2 double")
    adc = (
        codes.join(F.broadcast(dtab), ["sub", "code"])
        .groupBy("id")
        .agg(F.round(F.sum("d2"), 4).alias("adc"))
    )
    cand = adc.orderBy("adc", "id").limit(shortlist).select(
        F.col("id").alias(id_col)
    )
    rerank = embeddings.join(F.broadcast(cand), id_col).select(
        id_col, F.round(sq_l2_to(F.col(vec_col), query_vec), 4).alias("d2")
    )
    return rerank.orderBy("d2", id_col).limit(k)
