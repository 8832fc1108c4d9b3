"""Per-call fixed costs that do not grow with the input.

1. Streaming state partitions: every stateful operator commits one
   state-store file per partition per micro-batch, so
   streaming.jobs.stream_partitions sizes the count from the source
   (~8 MB per partition, clamped to [1, 4096]) instead of a floor of 8.
2. MinHash LSH: building the plan launches no Spark job. The signature
   length travels as `sig` column metadata, and the signature and band
   expressions are single SQL strings with the same hash values as the
   per-column builder they replace.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.operators import dedup as D
from parking_violations_data_pipeline_spark.registry import REGISTRY, all_queries
from parking_violations_data_pipeline_spark.streaming.jobs import stream_partitions

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"
MB = 1 << 20


@pytest.mark.parametrize(
    "src_bytes, parts",
    [(None, 1), (0, 1), (2 * MB, 1), (8 * MB, 1), (8 * MB + 1, 2), (40 * MB, 5), (1 << 50, 4096)],
)
def test_stream_partitions_follow_the_input(monkeypatch, src_bytes, parts):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTS", raising=False)
    assert stream_partitions(src_bytes) == parts


def test_stream_partitions_env_pin_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTS", "24")
    assert stream_partitions(2 * MB) == 24
    assert stream_partitions(1 << 50) == 24


def _jobs_launched(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_minhash_lsh_build_launches_no_job(spark):
    all_queries()
    entry = REGISTRY["j_minhash_lsh_neardup"].fn
    load_table(spark, SF_SMALL, "documents")  # the table load is not the entry's build
    assert _jobs_launched(spark, "minhash-build", lambda: entry(spark, SF_SMALL)) == 0
    assert _jobs_launched(spark, "minhash-run", lambda: entry(spark, SF_SMALL).collect()) > 0


def _reference_signatures(shingled, num_hashes: int = 32):
    """The per-column builder the single-expression form replaced."""
    ex = shingled.select("doc_id", F.explode("shingles").alias("sh"))
    sig = ex.groupBy("doc_id").agg(
        *[F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"h{i}") for i in range(num_hashes)]
    )
    return sig.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def test_minhash_signatures_match_the_per_column_form(spark):
    sh = D.shingle_sets(load_table(spark, SF_MED, "documents"), 3)
    got = D.minhash_signatures(sh)
    assert got.schema["sig"].metadata == {"num_hashes": 32}
    want = {r["doc_id"]: list(r["sig"]) for r in _reference_signatures(sh).collect()}
    assert {r["doc_id"]: list(r["sig"]) for r in got.collect()} == want
    assert len(want) > 100
