"""Round-11 optimization pins for the vector-operator internals.

The round-11 session rewrote pq_build (TakeOrdered seed fast path,
one-pass struct-argmin assignment, single-exchange centroid update),
moved the ivf/k-means argmaxes to the one-pass struct form, and routed
literal codebook matrices through `lit_matrix` (one parsed SQL
expression instead of ~1k py4j lit calls). These tests pin the edge
semantics those rewrites promised to preserve:

  * lit_matrix value-exactness incl. NaN / ±Inf / NULL / ragged rows
  * pq_build: ragged seed vector falls back to the window path and
    still seeds bit-identically (a vector missing a subspace must not
    seed it); sparse ids seed as dense ids do
  * struct-argmin: NULL d2 (ragged subvector) wins over real distances
    (the old window's NULLS FIRST), ties break to the lowest code,
    all-identical corpora assign every row to code 0
  * ivf_build / assign_centroids: zero-vector NaN sims win as the old
    array_max did; all-NULL rows keep the -1 sentinel
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F  # noqa: F401 - parity with peers

from parking_violations_data_pipeline_spark.functions.localrel import lit_matrix
from parking_violations_data_pipeline_spark.operators import similarity as S


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_lit_matrix_values_exact(spark):
    mat = [
        [1.0, -0.5, 1e300, 1e-300],
        [float("nan"), float("inf"), float("-inf"), None],
        [0.123456, -0.0, 2.0, 3.0],
    ]
    got = spark.range(1).select(lit_matrix(mat).alias("m")).head()["m"]
    assert len(got) == 3
    assert got[0] == mat[0]
    assert math.isnan(got[1][0])
    assert got[1][1] == float("inf") and got[1][2] == float("-inf")
    assert got[1][3] is None
    assert got[2] == [0.123456, -0.0, 2.0, 3.0]


def test_lit_matrix_ragged_rows(spark):
    mat = [[1.0, 2.0], [3.0], [4.0, 5.0, 6.0]]
    got = spark.range(1).select(lit_matrix(mat).alias("m")).head()["m"]
    assert [list(r) for r in got] == mat


def test_pq_seed_sparse_ids_match_dense(spark):
    # ids 1000,1003,... must seed exactly as 0..k-1 would (rank, not id<k)
    vals = [[float(i + j) for j in range(4)] for i in range(8)]
    dense = _vecs(spark, [(i, v) for i, v in enumerate(vals)])
    sparse = _vecs(spark, [(1000 + 3 * i, v) for i, v in enumerate(vals)])
    _, book_d = S.pq_build(dense, m=2, k=4, iters=0)
    _, book_s = S.pq_build(sparse, m=2, k=4, iters=0)
    assert book_d == book_s


def test_pq_ragged_seed_falls_back_bit_identical(spark):
    # second seed vector is SHORT (len 3 of 8): the fast path must not
    # fire; the window fallback seeds subspace 1 from the NEXT full
    # vector, and the short vector's partial slice seeds subspace 0.
    rows = [(i, [float(i * 8 + j) / 10 for j in range(8)]) for i in range(8)]
    rows[1] = (1, [0.5, -0.25, 0.125])
    codes, book = S.pq_build(_vecs(spark, rows), m=2, k=4, iters=0)
    # sub 0, code 1 = the short vector's 3-element prefix slice
    assert book[(0, 1)] == [0.5, -0.25, 0.125]
    # sub 1, code 1 = slice [4:8] of the NEXT vector with that subspace
    # (vec_id 2), because vec_id 1 has no positions there
    assert book[(1, 1)] == [round(x, 6) for x in rows[2][1][4:8]]


def test_pq_assign_all_identical_ties_to_code_zero(spark):
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(6)]
    codes, _ = S.pq_build(_vecs(spark, rows), m=2, k=4, iters=1)
    got = {(r["id"], r["sub"]): r["code"] for r in codes.collect()}
    # every centroid is identical -> every distance ties -> lowest code
    assert set(got.values()) == {0}


def test_pq_ragged_tail_assigns_null_d2_to_code_zero(spark):
    # a tail vector shorter than one subspace: its d2 vs every centroid
    # of that subspace is NULL under zip_with -> the old window's
    # NULLS FIRST picked code 0; the struct argmin must reproduce that.
    rows = [(i, [float(i + j) for j in range(8)]) for i in range(8)]
    rows[6] = (6, [9.0])  # only position 0 -> sub 1 has no rows; sub 0 ragged
    codes, _ = S.pq_build(_vecs(spark, rows), m=2, k=4, iters=0)
    got = {(r["id"], r["sub"]): r["code"] for r in codes.collect()}
    # NULL d2 vs every 4-element centroid (zip_with pads the short
    # slice with NULLs) -> the NULLS-FIRST convention picks code 0
    assert got[(6, 0)] == 0
    assert (6, 1) not in got  # empty slice dropped, as before


def test_ivf_all_null_sims_keep_minus_one_sentinel(spark):
    # element-wise NULLs make every cosine NULL -> cluster -1
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [None, None])]
    asg, _ = S.ivf_build(_vecs(spark, rows), k=2, iters=0)
    got = dict((r["vec_id"], r["cluster"]) for r in asg.collect())
    assert got[2] == -1
    assert got[0] != -1 and got[1] != -1


def test_assign_rows_duplicate_centroids_tie_to_lowest(spark):
    rows = [(i, [1.0, 1.0]) for i in range(4)]
    df = _vecs(spark, rows)
    a = S.assign_centroids(
        df, "embedding", [[1.0, 1.0], [1.0, 1.0], [-1.0, -1.0]], "list_id"
    )
    assert {r["list_id"] for r in a.collect()} == {0}


def test_pq_update_survives_ragged_group(spark):
    # ANSI mode: the per-position avg must use F.get (NULL out of
    # bounds), not the throwing [] accessor — iters=1 over a corpus
    # with a ragged tail exercises it.
    rows = [(i, [float(i + j) for j in range(8)]) for i in range(8)]
    rows[7] = (7, [1.0, 2.0, 3.0])
    codes, book = S.pq_build(_vecs(spark, rows), m=2, k=4, iters=1)
    assert len(book) == 8
    assert codes.count() > 0
