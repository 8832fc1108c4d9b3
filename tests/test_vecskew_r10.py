"""Round-10: LSH hot-bucket (vecskew) unit pins — verdict item 6.

The geoskew fixture proved hot-KEY adversaries earn their keep; this
is the vector analog. When every vector shares one hyperplane cell
(near-identical embeddings — dataset boilerplate, collapsed encoder
output), per-bucket pair work is O(h²) no matter how many planes
exist. The documented safety valve is `max_bucket`: oversized buckets
are DROPPED with a loud warning carrying the bucket/row counts, so
the self-join degrades to reduced recall instead of OOM. These tests
pin that contract with the fixtures_adv/vecskew corpus shape (380
identical + 20 spread); the full-registry sweep on the same fixture
is ROBUSTNESS_r10_vecskew.json.
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.operators import dedup as D
from parking_violations_data_pipeline_spark.operators import similarity as S

SF = "/root/repo/fixtures_adv/vecskew"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


class TestHotBucketCap:
    def test_all_hot_vectors_share_one_bucket(self, spark, emb):
        """The fixture's premise: 380 identical vectors -> identical
        sign bits -> one bucket, in every band."""
        bk = S.lsh_bucket(emb, num_planes=4, vec_col="embedding")
        top = (
            bk.groupBy("bucket").count().orderBy(F.desc("count")).head()
        )
        assert top["count"] >= 380

    def test_cap_drops_and_warns(self, spark, emb):
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            pairs = S.similarity_self_join(
                emb,
                0.3,
                use_lsh=True,
                num_planes=4,
                bands=2,
                max_bucket=100,
            ).collect()
        msgs = [str(x.message) for x in w if "similarity_self_join" in str(x.message)]
        assert msgs, "dropped-bucket warning did not fire"
        assert "max_bucket=100" in msgs[0]
        # the hot bucket (380 rows, both bands) was dropped: no result
        # pair can have BOTH ends in the hot set, so the pair count is
        # far below the ~72k all-hot-pairs mass — the OOM-path row
        # multiplication never happens
        hot_ids = {
            r["vec_id"]
            for r in emb.filter(F.col("vec_id") % 20 != 19).collect()
        }
        assert all(
            not (p["id_a"] in hot_ids and p["id_b"] in hot_ids) for p in pairs
        )
        assert len(pairs) < 1000

    def test_no_cap_still_completes_at_fixture_scale(self, spark, emb):
        """Without the cap a 380-row bucket is one 380x380 Arrow-batch
        matmul — must return the full hot-pair mass, correctly."""
        pairs = S.similarity_self_join(
            emb, 0.3, use_lsh=True, num_planes=4, bands=2
        )
        n_hot_pairs = 380 * 379 // 2
        got = pairs.count()
        assert got >= n_hot_pairs  # every hot pair collides (sim 1.0)

    def test_dedup_band_cap_drops_hot_bucket(self, spark):
        """Same valve on the MinHash-band dedup path: identical docs
        collapse into one (band, bucket); max_bucket drops it."""
        docs = spark.createDataFrame(
            [(i, "the same boilerplate text repeated everywhere") for i in range(50)]
            + [(90_000 + i, f"unique document number {i} with words") for i in range(5)],
            "doc_id long, text string",
        )
        sigs = D.minhash_signatures(D.shingle_sets(docs))
        capped = D.lsh_candidate_pairs(sigs, max_bucket=20)
        uncapped = D.lsh_candidate_pairs(sigs)
        boiler = set(range(50))
        got = capped.collect()
        assert all(
            not (r["id_a"] in boiler and r["id_b"] in boiler) for r in got
        )
        assert uncapped.count() >= 50 * 49 // 2
