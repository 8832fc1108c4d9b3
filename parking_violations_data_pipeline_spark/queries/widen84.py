"""Round-4 widening batch 84: IVF-PQ composite vector index (coarse
quantizer + product-quantized residuals + exact re-rank — the
standard billion-scale ANN architecture) and the managed-table
streaming sink (DataStreamWriter.toTable).
"""

from __future__ import annotations

import os
import shutil

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import scratch, warehouse_path
from parking_violations_data_pipeline_spark.operators import similarity as S
from parking_violations_data_pipeline_spark.functions.localrel import local_df
from parking_violations_data_pipeline_spark.registry import register


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
    "s_stream_table_sink",
    oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM events WHERE value > 0
GROUP BY event_type ORDER BY event_type
""",
    tags=("A6", "A5"),
)
def s_stream_table_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Managed-TABLE streaming sink: writeStream.toTable() — the
    catalog-integrated sink (vs the path-based parquet sink of
    s_stream_parquet_sink): exactly-once append through the commit
    log, and downstream batch readers address it by NAME via
    spark.read.table. The drained table must reproduce the batch
    aggregate. Table + checkpoint are pid-suffixed (concurrent-session
    lesson from round 3)."""
    from parking_violations_data_pipeline_spark.streaming import jobs

    tbl = f"stream_tbl_sink_{os.getpid()}"
    ckpt = scratch(f"ckpt_{tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    # DROP only reaps locations the CURRENT catalog knows about; a
    # stale spark-warehouse/<tbl> directory from a crashed earlier
    # process with a RECYCLED pid survives it, and toTable then fails
    # LOCATION_ALREADY_EXISTS (flushed by the round-8 engine-stability
    # run-pair harness). Remove the physical location explicitly.
    shutil.rmtree(warehouse_path(spark, tbl), ignore_errors=True)
    s = (
        jobs.events_stream(spark, sf_dir)
        .filter(F.col("value") > 0)
        .select("event_id", "event_type", "value")
    )
    q = (
        s.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .toTable(tbl)
    )
    q.awaitTermination()
    out = spark.read.table(tbl)
    return (
        out.groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        )
        .orderBy("event_type")
    )
