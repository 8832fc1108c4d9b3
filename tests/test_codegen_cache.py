"""The whole-stage-codegen class cache holds the engine's working set.

Spark keeps compiled codegen classes in one LRU per JVM, keyed by the
generated source. At Spark's default cap of 100 the bench headliners
(124 distinct classes at sf0.001) evicted most classes before their next
use, so a second pass recompiled 88 of them.
`session.get_spark` sizes the cache so that a warm pass compiles nothing.
"""

from __future__ import annotations

from bench import BENCH_QUERIES
from parking_violations_data_pipeline_spark.registry import REGISTRY, all_queries
from parking_violations_data_pipeline_spark.session import CODEGEN_CACHE_MAX_ENTRIES

SF_SMALL = "/root/testdata/sf0.001"


def _compiled(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_reports_the_cap(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_MAX_ENTRIES)


def test_warm_headliners_compile_nothing(spark):
    all_queries()

    def one_pass() -> None:
        for name in BENCH_QUERIES:
            REGISTRY[name].fn(spark, SF_SMALL).collect()

    one_pass()
    before = _compiled(spark)
    one_pass()
    assert _compiled(spark) - before == 0
