"""Layout- and index-level scale operators: bucketed co-located joins,
IVF ANN, streaming parquet sink (the write-time investments that pay
back at 100 TB).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import (
    LRUDict,
    fixture_stamp,
    fixture_tag,
    load_table,
    query_vector,
)
from parking_violations_data_pipeline_spark.operators import bucketing as BK
from parking_violations_data_pipeline_spark.operators import similarity as S
from parking_violations_data_pipeline_spark.registry import register
from parking_violations_data_pipeline_spark.streaming import jobs

# bucketed table -> fixture_stamp of the table it was written from, so a
# fixture rewritten in place gets its bucketed copy rewritten as well;
# the lock keeps two threads from writing the same table at once
_BUCKETED_FROM: LRUDict = LRUDict(cap=64)
_BUCKETED_LOCK = threading.Lock()


@register(
    "c_bucketed_join",
    oracle="""
SELECT o.o_orderstatus, count(*) AS cnt, round(sum(l.l_quantity), 2) AS sum_qty
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
""",
    tags=("C9", "A5"),
)
def c_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both fact tables persisted bucketed +
    sorted by orderkey (8 buckets), then joined — SortMergeJoin with no
    Exchange and no Sort (asserted in test_plans): the write-time
    shuffle is amortized across every later join on the key. Identical
    results to the plain join (the oracle)."""
    tag = fixture_tag(sf_dir)
    lt, rt = f"orders_b_{tag}", f"lineitem_b_{tag}"
    with _BUCKETED_LOCK:
        for table, src, cols in (
            (lt, "orders", ("o_orderkey", "o_orderstatus")),
            (rt, "lineitem", ("l_orderkey AS o_orderkey", "l_quantity")),
        ):
            stamp = fixture_stamp(sf_dir, src)
            if _BUCKETED_FROM.get(table) != stamp or not spark.catalog.tableExists(table):
                df = load_table(spark, sf_dir, src).selectExpr(*cols)
                BK.write_bucketed(df, table, "o_orderkey", buckets=8)
                _BUCKETED_FROM[table] = stamp
    j = BK.bucketed_join(spark, lt, rt, "o_orderkey")
    return (
        j.groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy("o_orderstatus")
    )


@register(
    "j_ivf_knn",
    oracle="SELECT CAST(10 AS BIGINT) AS k, TRUE AS recall_ok",
    tags=("J8",),
)
def j_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 scale path #2: IVF ANN — DataFrame-native k-means coarse
    quantizer (16 clusters, 2 Lloyd rounds), probe the 4 nearest
    inverted lists, exact re-rank inside. In-plan invariant: recall vs
    the exact top-10 ≥ 70% (measured: 9/10 at both gate scales;
    seeded k-means makes it deterministic). Oracle reproduces
    k + TRUE."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = query_vector(e, sf_dir, missing=[0.0] * 64)
    # n_probe omitted → auto: the operator starts at 4 probes and
    # widens via the bounded limit-peek on tiny corpora (extremes
    # fixture), which explicit n_probe now skips (round-8 ADVICE fix)
    ivf = S.ivf_knn(e, qv, k=10, n_clusters=16).select(
        "vec_id", F.lit(1).alias("hit")
    )
    exact = S.knn_bruteforce(e, qv, 10).select("vec_id")
    return exact.join(ivf, "vec_id", "left").agg(
        F.lit(10).cast("bigint").alias("k"),
        (F.count("hit") >= 0.7 * F.count("*")).alias("recall_ok"),
    )


@register(
    "s_stream_parquet_sink",
    oracle="""
SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sv
FROM events WHERE value > 0
GROUP BY event_type ORDER BY event_type
""",
    tags=("A6", "A5"),
)
def s_stream_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: streaming parquet FILE sink (exactly-once append via the
    sink commit log) — the committed files re-read in batch must equal
    the batch answer over the source."""
    out = jobs.stream_to_parquet_sink(spark, sf_dir)
    return (
        out.groupBy("event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sv"))
        .orderBy("event_type")
    )
