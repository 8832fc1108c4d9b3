"""Round-3 widening batch 36: Cramér's V effect size from the exact
contingency table, hierarchical percent-of-total (region → nation),
and a REAL multi-micro-batch streaming replay (4 time-ordered chunks
via maxFilesPerTrigger=1) proving cross-batch state accumulation.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import fixture_bytes
from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import maybe_broadcast
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.registry import register
from parking_violations_data_pipeline_spark.streaming import jobs
from parking_violations_data_pipeline_spark.streaming.jobs import run_available_now


@register(
    "d_cramers_v",
    oracle="""
WITH cells AS (
  SELECT l_returnflag AS r, l_linestatus AS c, CAST(count(*) AS BIGINT) AS o
  FROM lineitem GROUP BY l_returnflag, l_linestatus
),
margins AS (
  SELECT r, c, o,
    CAST(sum(o) OVER (PARTITION BY r) AS BIGINT) AS row_n,
    CAST(sum(o) OVER (PARTITION BY c) AS BIGINT) AS col_n,
    CAST(sum(o) OVER () AS BIGINT) AS n
  FROM cells
),
chi AS (
  SELECT max(n) AS n,
    CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
    CAST(count(DISTINCT c) AS BIGINT) AS n_cols,
    sum( (CAST(o AS DOUBLE) - CAST(row_n AS DOUBLE) * col_n / n)
       * (CAST(o AS DOUBLE) - CAST(row_n AS DOUBLE) * col_n / n)
       / (CAST(row_n AS DOUBLE) * col_n / n) ) AS chi2
  FROM margins
)
SELECT CAST(n AS BIGINT) AS n, n_rows, n_cols,
  round(chi2, 6) AS chi2,
  round(sqrt(chi2 / (CAST(n AS DOUBLE) * (least(n_rows, n_cols) - 1))), 6) AS cramers_v
FROM chi
""",
    tags=("D8", "D1"),
)
def d_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the returnflag × linestatus
    association: the normalized χ² that makes contingency strength
    comparable across table shapes (0 = independent, 1 = fully
    determined). Counts and margins are exact bigints via windows
    over the tiny cell table (the d_chi2_independence shape); the
    closed-form χ²/V evaluate in an identical floating-point
    operation sequence on both engines, then one shared round —
    floating point touches only the final expression, never
    accumulation.
    """
    l = load_table(spark, sf_dir, "lineitem")
    cells = l.groupBy(
        F.col("l_returnflag").alias("r"), F.col("l_linestatus").alias("c")
    ).agg(F.count("*").alias("o"))
    from pyspark.sql import Window

    margins = cells.select(
        "r",
        "c",
        "o",
        F.sum("o").over(Window.partitionBy("r")).alias("row_n"),
        F.sum("o").over(Window.partitionBy("c")).alias("col_n"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    exp = F.try_divide(
        F.col("row_n").cast("double") * F.col("col_n"), F.col("n")
    )
    chi = margins.agg(
        F.max("n").alias("n"),
        F.countDistinct("r").alias("n_rows"),
        F.countDistinct("c").alias("n_cols"),
        F.sum(
            F.try_divide(
                (F.col("o").cast("double") - exp)
                * (F.col("o").cast("double") - exp),
                exp,
            )
        ).alias("chi2"),
    )
    return chi.select(
        F.col("n").cast("long").alias("n"),
        "n_rows",
        "n_cols",
        F.round("chi2", 6).alias("chi2"),
        # a 1×k or k×1 table has min(r,c)-1 = 0 → V undefined → NULL
        # (try_divide), matching DuckDB's NULL-on-zero division
        F.round(
            F.sqrt(
                F.try_divide(
                    F.col("chi2"),
                    F.col("n").cast("double")
                    * (F.least("n_rows", "n_cols") - F.lit(1)),
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "q_share_of_hierarchy",
    oracle="""
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
    CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name
),
tot AS (
  SELECT region, nation, cents,
    CAST(sum(cents) OVER (PARTITION BY region) AS BIGINT) AS region_cents,
    CAST(sum(cents) OVER () AS BIGINT) AS world_cents
  FROM rev
)
SELECT region, nation, cents,
  CAST(cents // greatest(region_cents // 1000000, 1) AS BIGINT) AS share_of_region_ppm,
  CAST(cents // greatest(world_cents // 1000000, 1) AS BIGINT) AS share_of_world_ppm
FROM tot ORDER BY region, nation
""",
    tags=("D1", "E3", "C1"),
)
def q_share_of_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical percent-of-total: each nation's revenue as a
    share of its region and of the world — the drill-down report
    every rollup dashboard renders next to the absolute figures.
    Shares by floor division at two hierarchy levels (both in
    the divide-the-divisor form — the numerator×10⁶ form overflows
    at scale, the SCALE_SMOKE rule); the windows run over the
    25-row nation rollup.
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(maybe_broadcast(c.select("c_custkey", "c_nationkey"), sf_dir, "customer"), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"))
    )
    tot = rev.select(
        "region",
        "nation",
        "cents",
        F.sum("cents").over(Window.partitionBy("region")).alias("region_cents"),
        F.sum("cents").over(Window.partitionBy()).alias("world_cents"),
    )
    return tot.select(
        "region",
        "nation",
        "cents",
        F.expr("cents div greatest(region_cents div 1000000, 1)").alias("share_of_region_ppm"),
        F.expr("cents div greatest(world_cents div 1000000, 1)").alias("share_of_world_ppm"),
    ).orderBy("region", "nation")


@register(
    "s_chunked_replay",
    oracle="""
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, event_type,
  CAST(count(*) AS BIGINT) AS cnt,
  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM events
-- admission contract: update-mode stateful replay admits only
-- post-epoch event times (jobs.admissible_event_time)
WHERE ts IS NOT NULL AND ts > TIMESTAMP '1970-01-01 00:00:00'
GROUP BY h, event_type ORDER BY h, event_type
""",
    tags=("I1", "I2", "A6"),
)
def s_chunked_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multi-micro-batch replay: events are re-sharded into four
    TIME-ORDERED chunks (quartile boundaries from one approximate-
    percentile aggregate — no global sort — then a map-side when()
    assignment and a single partitionBy('chunk') write) and streamed
    with maxFilesPerTrigger=1, so the windowed aggregation accumulates
    across four genuine micro-batches with an advancing watermark —
    the single-file replays elsewhere exercise one batch only. The
    final state must equal the batch answer exactly: cross-batch
    state merge, watermark advancement, and update-mode re-emission
    all have to work (the last emission per window wins via max(cnt)
    — counts are monotone within a window).
    """
    src = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type", "value")
        # admission contract (jobs.admissible_event_time): NULL and
        # pre/at-epoch event times never enter the stateful path; the
        # oracle filters the same rows
        .filter(jobs.admissible_event_time("ts"))
    )
    chunk_dir = scratch("chunked_replay_src")
    # Time-quartile sharding WITHOUT a global sort: the round-4
    # `ntile(4) over (order by ts, event_id)` ran the whole table
    # through ONE window task (the 4.9x-at-100x row in SCALE_SMOKE
    # r6). The split points don't have to be exact — any boundaries
    # that partition the timeline give a valid replay, and the final
    # answer is split-independent — so three approximate percentiles
    # (one map-side-combined aggregate) + a map-side when() chain
    # replace the sort. Scans: 2 total (boundaries + write) instead
    # of 5 (sort + four filtered re-reads).
    row = src.agg(
        F.percentile_approx(
            F.unix_micros("ts"), [0.25, 0.5, 0.75], 10_000
        ).alias("b")
    ).first()
    bounds = row["b"] if row and row["b"] is not None else None
    if bounds is None:
        q = src.withColumn("chunk", F.lit(1))
    else:
        us = F.unix_micros("ts")
        q = src.withColumn(
            "chunk",
            F.when(us <= int(bounds[0]), 1)
            .when(us <= int(bounds[1]), 2)
            .when(us <= int(bounds[2]), 3)
            .otherwise(4),
        )
    # one job: hash the 4 chunk values over 8 buckets so each chunk
    # lands whole in one task -> exactly one file per chunk=k/ dir,
    # all four written in parallel (vs. coalesce(1) x 4 jobs)
    (
        q.repartition(8, "chunk")
        .write.partitionBy("chunk")
        .mode("overwrite")
        .parquet(chunk_dir)
    )
    flat_dir = scratch("chunked_replay_flat")
    os.makedirs(flat_dir, exist_ok=True)
    for k in range(1, 5):
        stage = os.path.join(chunk_dir, f"chunk={k}")
        if not os.path.isdir(stage):
            continue  # degenerate fixture: quartile collapsed empty
        parts = sorted(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        for i, part in enumerate(parts):
            dst = os.path.join(flat_dir, f"chunk-{k}-{i:02d}.parquet")
            shutil.copy(os.path.join(stage, part), dst)
            # the file source orders micro-batches by MODIFICATION
            # TIME; fast copies can land on the same mtime tick
            # (measured under load), making chunk order — and
            # therefore watermark lateness — nondeterministic. Stamp
            # explicit, strictly increasing mtimes so batch order
            # always equals time order.
            stamp = 1_700_000_000 + k * 64 + i
            os.utime(dst, (stamp, stamp))
    if not os.listdir(flat_dir):
        # empty source (empty/allnull fixtures): one empty file keeps
        # the replay a real (single, empty) micro-batch
        q.limit(0).drop("chunk").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(chunk_dir, "chunk=empty"))
        stage = os.path.join(chunk_dir, "chunk=empty")
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.copy(
            os.path.join(stage, part),
            os.path.join(flat_dir, "chunk-0-00.parquet"),
        )

    schema = src.schema
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(flat_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
    )
    agg = (
        s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        )
        .select(F.col("w.start").alias("h"), "event_type", "cnt", "cents")
    )
    out = run_available_now(agg, "update", src_bytes=fixture_bytes(sf_dir, "events"))
    # update mode re-emits a window each time it grows; the final
    # (largest-cnt) emission per (h, type) is the completed window
    final = out.groupBy("h", "event_type").agg(
        F.max("cnt").alias("cnt"), F.max_by("cents", "cnt").alias("cents")
    )
    return final.orderBy("h", "event_type")
