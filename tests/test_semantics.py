"""Semantic invariants for the rows-only (non-SQL-expressible)
operators: probabilistic dedup/ANN paths are validated against their
exact ground-truth twins, hashes for determinism, approximations for
tolerance.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.operators import dedup as D
from parking_violations_data_pipeline_spark.operators import similarity as S
from parking_violations_data_pipeline_spark.operators import text as TX

from .conftest import SF_SMALL


def test_minhash_lsh_precision_and_recall(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    got = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_neardups(docs, threshold=0.25).select("id_a", "id_b").collect()
    }
    truth = {
        (r.id_a, r.id_b)
        for r in D.exact_jaccard_pairs(D.shingle_sets(docs, 3))
        .filter(F.col("jaccard") >= 0.25)
        .select("id_a", "id_b")
        .collect()
    }
    # precision is exact 1.0: every emitted pair passed the exact-Jaccard verify
    assert got <= truth
    # recall: banding (32 hashes / 8 bands) catches most pairs at this threshold
    if truth:
        assert len(got) / len(truth) >= 0.5, f"LSH recall {len(got)}/{len(truth)}"


def test_simhash_detects_identical_text(spark):
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text").limit(50)
    clone = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(clone)
    pairs = D.simhash_neardups(both, max_hamming=0)
    clones_found = {
        (r.id_a, r.id_b) for r in pairs.select("id_a", "id_b").collect()
    }
    expected = {(r.doc_id, r.doc_id + 100000) for r in docs.collect()}
    assert expected <= clones_found  # identical text ⇒ hamming 0, always blocked together


def test_fingerprint_deterministic_and_distinct(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    a = {r.doc_id: r.fp for r in TX.fingerprint(docs).collect()}
    b = {r.doc_id: r.fp for r in TX.fingerprint(docs).collect()}
    assert a == b  # deterministic across runs
    # fixture has no duplicate texts → no fingerprint collisions
    assert len(set(a.values())) == len(a)


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "join filter window"), (2, "  join   filter\twindow ")], ["doc_id", "text"]
    )
    fps = {r.doc_id: r.fp for r in TX.fingerprint(df).collect()}
    assert fps[1] == fps[2]


def test_approx_count_distinct_tolerance(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    exact = {
        r.l_returnflag: r.ndp
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("ndp"))
        .collect()
    }
    approx = {
        r.l_returnflag: r.approx_ndp
        for r in li.groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", 0.02).alias("approx_ndp"))
        .collect()
    }
    for k, ex in exact.items():
        assert abs(approx[k] - ex) / ex <= 0.05, (k, ex, approx[k])


def test_knn_pandas_matches_bruteforce(spark):
    e = load_table(spark, SF_SMALL, "embeddings")
    row = e.filter(F.col("vec_id") == 0).select("embedding").head()
    qv = [float(x) for x in row["embedding"]]
    bf = [(r.vec_id, r.sim) for r in S.knn_bruteforce(e, qv, k=10).collect()]
    pd_ = [(r.vec_id, r.sim) for r in S.knn_pandas(e, qv, k=10).collect()]
    assert bf == pd_


def test_ann_lsh_results_are_exact_subset(spark):
    e = load_table(spark, SF_SMALL, "embeddings")
    row = e.filter(F.col("vec_id") == 0).select("embedding").head()
    qv = [float(x) for x in row["embedding"]]
    ann = {r.vec_id for r in S.ann_lsh(e, qv, k=10, num_planes=6).collect()}
    # single-probe LSH must at least find the query vector itself
    assert 0 in ann
    # and every ANN hit must appear in the exact full ranking (sanity: ids valid)
    all_ids = {r.vec_id for r in e.select("vec_id").collect()}
    assert ann <= all_ids


def test_exact_dedup_survivor_is_min_key(spark):
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    redelivered = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(redelivered)
    kept = TX.exact_dedup_text(both, "text", "doc_id")
    assert kept.count() == docs.count()
    assert kept.filter(F.col("doc_id") >= 100000).count() == 0


def test_frame_sample_invariants(spark):
    from parking_violations_data_pipeline_spark.operators import multimodal as MM

    docs = load_table(spark, SF_SMALL, "documents").limit(20)
    frames = MM.sample_frames(MM.attach_binary(docs), every_n_bytes=64).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    lens = {r.doc_id: r.n_chars for r in docs.collect()}
    for doc_id, rows in by_doc.items():
        # one frame per 64-byte stride, offsets aligned, byte values valid ASCII
        assert len(rows) == (lens[doc_id] + 63) // 64
        assert all(r.offset % 64 == 0 for r in rows)
        assert all(0 <= r.byte_val < 128 for r in rows)


def test_decode_media_is_explicit_stub():
    import pytest as _pytest

    from parking_violations_data_pipeline_spark.operators import multimodal as MM

    with _pytest.raises(NotImplementedError):
        MM.decode_media(b"\x89PNG", "image/png")


def test_salted_join_handles_missing_salt_source(spark):
    from parking_violations_data_pipeline_spark.operators.skew import salted_join

    o = load_table(spark, SF_SMALL, "orders")
    dim = spark.createDataFrame([("F", 1.0), ("O", 2.0), ("P", 3.0)], ["o_orderstatus", "w"])
    j = salted_join(o, dim, on=["o_orderstatus"], salt=4, salt_source=["o_orderkey"])
    assert j.count() == o.count()


def test_append_mode_subset_of_complete(spark):
    """s_append_mode computes its subset/equality invariant in-plan
    (the driver has no rows-only path): every emitted closed window
    must exactly match the batch answer."""
    from parking_violations_data_pipeline_spark.registry import REGISTRY, all_queries

    all_queries()
    [r] = REGISTRY["s_append_mode"].fn(spark, SF_SMALL).collect()
    assert r.ok and r.n_unmatched == 0 and r.n_batch_groups > 0


def test_ivf_knn_recall(spark):
    e = load_table(spark, SF_SMALL, "embeddings")
    row = e.filter(F.col("vec_id") == 0).select("embedding").head()
    qv = [float(x) for x in row["embedding"]]
    exact = [r.vec_id for r in S.knn_bruteforce(e, qv, k=10).collect()]
    approx = {r.vec_id for r in S.ivf_knn(e, qv, k=10, n_clusters=16, n_probe=4).collect()}
    # the query vector itself and a majority of true neighbors must surface
    assert 0 in approx
    recall = len(set(exact) & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall}"


def test_sample_fraction_and_determinism(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    a = li.sample(fraction=0.1, seed=42).count()
    b = li.sample(fraction=0.1, seed=42).count()
    assert a == b  # seeded → reproducible
    n = li.count()
    assert 0.05 * n <= a <= 0.15 * n  # within tolerance of the target fraction


def test_lsh_selfjoin_pairs_are_exact_pairs(spark):
    """Every pair the bucketed LSH path finds is a pair of the exact
    crossJoin path, the reference."""
    e = load_table(spark, SF_SMALL, "embeddings")
    exact = {(r.id_a, r.id_b) for r in S.similarity_self_join(e, 0.3).collect()}
    lsh = {
        (r.id_a, r.id_b)
        for r in S.similarity_self_join(e, 0.3, use_lsh=True).collect()
    }
    assert lsh and lsh <= exact


def test_approx_percentile_tolerance(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY, all_queries

    all_queries()
    li = load_table(spark, SF_SMALL, "lineitem")
    exact = {
        r.l_returnflag: (r.med, r.p99)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", F.lit(0.5)).alias("med"),
            F.percentile("l_extendedprice", F.lit(0.99)).alias("p99"),
        )
        .collect()
    }
    # tighter (2%) direct check of the GK sketch than the query's
    # in-plan 5% bound
    approx = {
        r.l_returnflag: (r.med_a, r.p99_a)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(1000)).alias("med_a"),
            F.approx_percentile("l_extendedprice", F.lit(0.99), F.lit(1000)).alias("p99_a"),
        )
        .collect()
    }
    for k, (m, p) in exact.items():
        am, ap = approx[k]
        assert abs(am - m) / m < 0.02 and abs(ap - p) / p < 0.02
    # and the registered query's in-plan invariants all hold
    for r in REGISTRY["d_approx_percentile"].fn(spark, SF_SMALL).collect():
        assert r.ok_med and r.ok_p99


def test_hll_union_estimates_within_tolerance(spark):
    from parking_violations_data_pipeline_spark.registry import REGISTRY, all_queries

    all_queries()
    rows = REGISTRY["d_hll_sketch_union"].fn(spark, SF_SMALL).collect()
    assert rows and all(r.ok_month and r.ok_total for r in rows)
    o = load_table(spark, SF_SMALL, "orders")
    true_total = o.select("o_custkey").distinct().count()
    assert rows[0].total_exact == true_total


# ---------------------------------------------------------------------------
# round-2 ADVICE regressions
# ---------------------------------------------------------------------------


def test_asof_payload_carried_atomically(spark):
    """A NULL inside the LATEST matching version's payload must come
    through as NULL (not back-filled from an older version), and all
    payload columns must come from the same version row."""
    from parking_violations_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100)], ["k", "t"])
    right = spark.createDataFrame(
        [(1, 10, "old_a", "old_b"), (1, 50, None, "new_b")],
        ["k", "t", "a", "b"],
    )
    out = asof_join(left, right, ["k"], "t", "t", ["a", "b"], how="inner").collect()
    assert len(out) == 1
    r = out[0]
    # latest version (t=50) has a=NULL: must NOT substitute old_a
    assert r["a"] is None and r["b"] == "new_b"


def test_asof_inner_keeps_all_null_payload_match(spark):
    """how='inner' drops only true misses (no prior version) — a
    matched version row whose payload is entirely NULL is still a
    match."""
    from parking_violations_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100), (2, 100)], ["k", "t"])
    right = spark.createDataFrame(
        [(1, 10, None)], "k long, t long, a string"
    )
    out = asof_join(left, right, ["k"], "t", "t", ["a"], how="inner").collect()
    # k=1 matched (payload NULL), k=2 has no version at all -> dropped
    assert [(r["k"], r["a"]) for r in out] == [(1, None)]


def test_salted_join_rejects_right_full(spark):
    import pytest as _pytest

    from parking_violations_data_pipeline_spark.operators.skew import salted_join

    o = load_table(spark, SF_SMALL, "orders")
    dim = spark.createDataFrame([("F", 1.0)], ["o_orderstatus", "w"])
    with _pytest.raises(ValueError, match="inner.*left"):
        salted_join(o, dim, on=["o_orderstatus"], how="full")


def test_salted_join_key_only_large_side(spark):
    """No non-key columns on the large side: falls back to hashing the
    key columns instead of an invalid zero-arg xxhash64."""
    from parking_violations_data_pipeline_spark.operators.skew import salted_join

    o = load_table(spark, SF_SMALL, "orders").select("o_orderstatus")
    dim = spark.createDataFrame([("F", 1.0), ("O", 2.0), ("P", 3.0)], ["o_orderstatus", "w"])
    j = salted_join(o, dim, on=["o_orderstatus"], salt=4)
    assert j.count() == o.count()


def test_lsh_candidate_pairs_validates_bands(spark):
    import pytest as _pytest

    docs = load_table(spark, SF_SMALL, "documents")
    sig = D.minhash_signatures(D.shingle_sets(docs, 3), num_hashes=10)
    with _pytest.raises(ValueError, match="multiple of bands"):
        D.lsh_candidate_pairs(sig, bands=4).count()
    with _pytest.raises(ValueError, match="multiple of bands"):
        D.lsh_candidate_pairs(sig, bands=16).count()


def test_sim_self_join_max_bucket_caps_hot_bucket(spark):
    """A corpus of near-identical vectors collapses into one LSH bucket;
    max_bucket must drop it (bounded work) instead of going O(n²)."""
    import warnings as _warnings

    base = [1.0] + [0.0] * 7
    rows = [(i, [x + i * 1e-6 for x in base]) for i in range(100)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        capped = S.similarity_self_join(
            e, 0.5, use_lsh=True, num_planes=4, max_bucket=50
        )
        n = capped.count()
    assert n == 0  # the single hot bucket was dropped entirely
    assert any("dropped" in str(x.message) for x in w)
    # uncapped control: the same corpus yields ~n²/2 pairs
    full = S.similarity_self_join(e, 0.5, use_lsh=True, num_planes=4)
    assert full.count() == 100 * 99 // 2


def test_transform_with_state_gated_or_works(spark):
    """transformWithStateInPandas needs google-protobuf; absent from
    this container the wrapper must fail loudly with the reason (never
    a silent wrong answer). Where protobuf exists it must match the
    batch answer."""
    import pytest as _pytest

    from parking_violations_data_pipeline_spark.streaming import jobs

    try:
        from google.protobuf import descriptor  # noqa: F401
        have_protobuf = True
    except ImportError:
        have_protobuf = False
    if not have_protobuf:
        with _pytest.raises(RuntimeError, match="protobuf"):
            jobs.transform_with_state_stats(spark, SF_SMALL)
        return
    out = {
        r.user_id: (r.n, r.total)
        for r in jobs.transform_with_state_stats(spark, SF_SMALL).collect()
    }
    batch = {
        r.user_id: (r.n, r.total)
        for r in load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .collect()
    }
    assert out == batch


def test_connected_components_raises_at_round_cap(spark):
    """A 6-node path needs 5 propagation rounds plus one that changes
    nothing: with max_iter=2 the loop ends while labels still move,
    which must raise instead of returning split components."""
    import pytest as _pytest

    from parking_violations_data_pipeline_spark.operators.graph import (
        ComponentsNotConverged,
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src long, dst long"
    )
    with _pytest.raises(ComponentsNotConverged, match="max_iter=2"):
        connected_components(edges, max_iter=2)
    labels = {r.label for r in connected_components(edges).collect()}
    assert labels == {0}


def test_connected_components_chain_and_clique(spark):
    """Min-label propagation must reach fixpoint on a long chain
    (needs multiple rounds — diameter 7), not just the near-clique
    bundles the fixtures contain; plus two disjoint components and a
    cycle in one graph."""
    from parking_violations_data_pipeline_spark.operators.graph import (
        connected_components,
        dedup_clusters,
    )

    edges = spark.createDataFrame(
        # chain 1-2-3-4-5-6-7-8, triangle 20-21-22, pair 30-31
        [(i, i + 1) for i in range(1, 8)]
        + [(20, 21), (21, 22), (22, 20), (31, 30)],
        ["src", "dst"],
    )
    labels = {
        r.node: r.label for r in connected_components(edges).collect()
    }
    assert {labels[i] for i in range(1, 9)} == {1}
    assert {labels[i] for i in (20, 21, 22)} == {20}
    assert {labels[i] for i in (30, 31)} == {30}

    clusters = {
        r.cluster_id: (r.n_members, r.members)
        for r in dedup_clusters(edges, "src", "dst").collect()
    }
    assert clusters[1] == (8, "1|2|3|4|5|6|7|8")
    assert clusters[20] == (3, "20|21|22")
    assert clusters[30] == (2, "30|31")
