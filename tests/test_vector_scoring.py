"""The shared vector steps equal the forms they replaced.

* `vector.cosine_to` (query norm folded on the driver) is bitwise
  `cosine_sim` against the same query written as a per-element literal
  array, unrounded, for a real, a zero and a None query.
* `vector.sq_l2_to` is bitwise the inline zip_with/aggregate fold.
* `similarity.lsh_probe_order` is the multi-probe list `ann_lsh` built
  inline, for Hamming 0, 1 and 2.
"""

from __future__ import annotations

import struct

from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table, query_vector
from parking_violations_data_pipeline_spark.functions.vector import (
    cosine_sim,
    cosine_to,
    sq_l2_to,
)
from parking_violations_data_pipeline_spark.operators import similarity as S

from .conftest import SF_SMALL


def _bits(x):
    return None if x is None else struct.pack(">d", x)


def _per_element_literal(q):
    if q is None:
        return F.lit(None).cast("array<double>")
    return F.array(*[F.lit(float(x)) for x in q])


def _same_bits(e, got, want):
    rows = e.select("vec_id", got.alias("got"), want.alias("want")).collect()
    assert rows
    bad = [r for r in rows if _bits(r["got"]) != _bits(r["want"])]
    assert not bad, bad[:3]
    return rows


def test_cosine_to_is_bitwise_cosine_sim(spark):
    e = load_table(spark, SF_SMALL, "embeddings")
    q = query_vector(e, SF_SMALL)
    assert q is not None
    emb = F.col("embedding")
    for query in (q, [0.0] * len(q), None):
        rows = _same_bits(
            e, cosine_to(emb, query), cosine_sim(emb, _per_element_literal(query))
        )
        if query is q:
            assert any(r["got"] is not None for r in rows)
        else:
            assert all(r["got"] is None for r in rows)


def test_sq_l2_to_is_bitwise_the_inline_fold(spark):
    e = load_table(spark, SF_SMALL, "embeddings")
    q = query_vector(e, SF_SMALL)
    inline = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            _per_element_literal(q),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    _same_bits(e, sq_l2_to(F.col("embedding"), q), inline)


def _inline_ann_lsh_probes(query_vec, num_planes, probe_hamming):
    qbucket = 0
    for h in range(num_planes):
        plane = S._hyperplane(h, len(query_vec))
        if sum(p * q for p, q in zip(plane, query_vec)) > 0:
            qbucket |= 1 << h
    probes = [qbucket]
    if probe_hamming >= 1:
        probes += [qbucket ^ (1 << h) for h in range(num_planes)]
    if probe_hamming >= 2:
        probes += [
            qbucket ^ (1 << a) ^ (1 << b)
            for a in range(num_planes)
            for b in range(a + 1, num_planes)
        ]
    return probes


def test_lsh_probe_order_is_the_ann_lsh_schedule(spark):
    e = load_table(spark, SF_SMALL, "embeddings")
    queries = [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("embedding").isNotNull())
        .orderBy("vec_id")
        .limit(5)
        .collect()
    ]
    for qv in queries:
        for num_planes in (4, 6):
            for hamming in (0, 1, 2):
                assert S.lsh_probe_order(qv, num_planes, hamming) == (
                    _inline_ann_lsh_probes(qv, num_planes, hamming)
                )
    assert len(S.lsh_probe_order(queries[0], 6)) == 1 + 6 + 15
