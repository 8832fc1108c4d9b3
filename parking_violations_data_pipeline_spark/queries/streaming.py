"""Streaming inventory as oracle pairs (SURVEY.md §2 I).

Each entry drains the events stream with availableNow (streaming/jobs.py)
into a memory, parquet, table, noop or foreachBatch sink, and the oracle
recomputes the same result in batch SQL — the batch-equivalence
protocol. Windows align because Spark tumbling/sliding windows are
epoch-aligned, exactly like floor(epoch/width) arithmetic in SQL.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import (
    fixture_bytes,
    load_table,
    scratch,
    warehouse_path,
)
from parking_violations_data_pipeline_spark.functions.localrel import local_df
from parking_violations_data_pipeline_spark.functions.timeutil import epoch_us
from parking_violations_data_pipeline_spark.registry import register
from parking_violations_data_pipeline_spark.streaming import jobs
from parking_violations_data_pipeline_spark.streaming.jobs import run_available_now


@register(
    "s_tumbling_window",
    oracle="""
SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS h,
  event_type, count(*) AS cnt, round(sum(value), 2) AS sv
FROM events WHERE ts IS NOT NULL
GROUP BY h, event_type ORDER BY h, event_type
""",
    tags=("I1", "I2", "A6"),
)
def s_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2: streamed watermarked 1-hour tumbling windows == batch
    date_trunc (no late data in replay)."""
    return jobs.tumbling_counts(spark, sf_dir).orderBy("h", "event_type")


@register(
    "s_sliding_window",
    oracle="""
SELECT CAST(to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 900) * 900 - k.range * 900 AS BIGINT)) AS TIMESTAMP) AS ws,
  event_type, count(*) AS cnt
FROM events CROSS JOIN range(0, 4) k
WHERE ts IS NOT NULL
GROUP BY ws, event_type ORDER BY ws, event_type
""",
    tags=("I3", "A6"),
)
def s_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3: 1h/15min sliding windows — every event in 4 windows; oracle
    derives the same windows with floor-epoch arithmetic."""
    return jobs.sliding_counts(spark, sf_dir).orderBy("ws", "event_type")


@register(
    "s_sliding_topk",
    oracle="""
SELECT ws, event_type, cnt FROM (
  SELECT ws, event_type, cnt,
         row_number() OVER (PARTITION BY ws ORDER BY cnt DESC, event_type) AS rn
  FROM (
    SELECT CAST(to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 900) * 900
                                  - k.range * 900 AS BIGINT)) AS TIMESTAMP) AS ws,
      event_type, count(*) AS cnt
    FROM events CROSS JOIN range(0, 4) k
    WHERE ts IS NOT NULL
    GROUP BY ws, event_type
  )
) WHERE rn <= 2 ORDER BY ws, cnt DESC, event_type
""",
    tags=("I3", "E4", "A6"),
)
def s_sliding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending items: top-2 event types per 1h/15min sliding window.
    The streaming stage produces the windowed counts (same job as
    s_sliding_window — ranking can't run inside an un-finalized
    stream); the rank is the standard batch post-pass over the sink,
    exactly how a production trending job is layered. Deterministic
    top-k: cnt DESC with the event_type tie-break.
    """
    from pyspark.sql.window import Window

    counts = jobs.sliding_counts(spark, sf_dir)
    w = Window.partitionBy("ws").orderBy(F.desc("cnt"), "event_type")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("ws", "event_type", "cnt")
        .orderBy("ws", F.desc("cnt"), "event_type")
    )


@register(
    "s_session_window",
    oracle="""
WITH g AS (
  SELECT user_id, ts,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS brk
  -- admission contract: stateful event-time ops admit only
  -- post-epoch times (jobs.admissible_event_time)
  FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        WHERE ts IS NOT NULL AND ts > TIMESTAMP '1970-01-01 00:00:00')
),
s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g)
SELECT user_id, min(ts) AS st, max(ts) + INTERVAL 30 MINUTE AS en, count(*) AS n
FROM s GROUP BY user_id, sid ORDER BY user_id, st
""",
    tags=("I4", "A6"),
)
def s_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4: native streaming session windows (30-min gap); a session's
    end is last_event + gap, which the batch oracle reproduces from
    gaps-and-islands."""
    return jobs.session_windows(spark, sf_dir).orderBy("user_id", "st")


@register(
    "s_dedup_watermark",
    oracle="""
WITH d AS (
  -- keyed dedup like dropDuplicatesWithinWatermark: one survivor per
  -- event_id. Arrival order in the fixtures is ascending value for a
  -- duplicated id, so the min-(value, event_type) copy is the
  -- first-seen one; NULL event times never enter watermarked state.
  SELECT event_id, event_type, value,
    row_number() OVER (PARTITION BY event_id
                       ORDER BY value, event_type) AS rn
  FROM events
  WHERE ts IS NOT NULL AND ts > TIMESTAMP '1970-01-01 00:00:00'
)
SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sv
FROM d WHERE rn = 1 GROUP BY event_type ORDER BY event_type
""",
    tags=("I5", "A6", "G3"),
)
def s_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I5: at-least-once delivery (stream unioned with itself) fixed by
    dropDuplicatesWithinWatermark — the aggregate equals the batch
    answer over the ORIGINAL events, proving every duplicate died."""
    return jobs.dedup_within_watermark(spark, sf_dir).orderBy("event_type")


@register(
    "s_stream_static_join",
    oracle="""
WITH w(event_type, weight) AS (VALUES ('click', 1.0), ('view', 0.5),
       ('purchase', 5.0), ('signup', 3.0), ('error', 0.0))
SELECT e.event_type, count(*) AS cnt, round(sum(e.value * w.weight), 4) AS weighted
FROM events e JOIN w USING (event_type)
GROUP BY e.event_type ORDER BY e.event_type
""",
    tags=("I7", "A6", "C3"),
)
def s_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I7: stream ⋈ static broadcast dimension + weighted aggregate."""
    return jobs.stream_static_join(spark, sf_dir).orderBy("event_type")


@register(
    "s_stream_stream_join",
    oracle="""
SELECT c.user_id,
       count(*) AS n_pairs,
       CAST(min(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS min_lag_us,
       round(sum(p.value), 2) AS attributed
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 -- admission contract: post-epoch event times only (mirrors the
 -- engine's pre-stateful admissible_event_time filter)
 AND c.ts > TIMESTAMP '1970-01-01 00:00:00'
 AND p.ts > TIMESTAMP '1970-01-01 00:00:00'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
GROUP BY c.user_id ORDER BY c.user_id
""",
    tags=("I9", "I7", "I1", "C7", "A6"),
)
def s_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I7+: watermarked stream-stream inner join (click→purchase
    attribution within 30 min), per-user pair counts, min lag in exact
    µs (unix_micros/epoch_us both sides — the sub-second trap), and
    attributed revenue."""
    pairs = jobs.stream_stream_attribution(spark, sf_dir)
    return (
        pairs.groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.min(
                epoch_us("p_ts") - epoch_us("c_ts")
            ).alias("min_lag_us"),
            F.round(F.sum("p_value"), 2).alias("attributed"),
        )
        .orderBy("user_id")
    )


@register(
    "s_stateful_user_stats",
    oracle="""
SELECT user_id, count(*) AS n, round(sum(value), 2) AS total, max(value) AS mx
FROM events GROUP BY user_id ORDER BY user_id
""",
    tags=("I6", "A6", "K3"),
)
def s_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6: custom stateful operator (applyInPandasWithState) keeping
    running per-user stats; final emitted state == batch aggregate."""
    return jobs.stateful_user_stats(spark, sf_dir).orderBy("user_id")


@register(
    "s_foreach_batch",
    oracle="""
SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sv
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("A6", "I8"),
)
def s_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: foreachBatch sink — per-micro-batch custom batch logic;
    folding the per-batch partials equals the batch aggregate however
    the stream was chunked."""
    out = jobs.foreach_batch_upsert(spark, sf_dir)
    return (
        out.groupBy("event_type")
        .agg(F.sum("cnt").alias("cnt"), F.round(F.sum("sv"), 2).alias("sv"))
        .orderBy("event_type")
    )


@register(
    "s_exactly_once_replay",
    oracle="""
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("A6", "I8", "I5"),
)
def s_exactly_once_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once REPLAY semantics: the same availableNow stream →
    parquet-sink query is started TWICE against one checkpoint. Run 1
    drains the source; run 2 sees the checkpoint, finds no new files,
    and commits nothing — the re-read equals the batch answer, which
    only holds if the second run neither duplicated nor reprocessed
    (the file-sink transaction log + source offsets in the checkpoint
    are what make restart idempotent; a naive sink would double every
    row). This is the operational property that makes streaming jobs
    safe to re-run after a crash or deploy.
    """
    out_dir = scratch("exactly_once_out")
    ckpt = scratch("ckpt_exactly_once")

    def run_once() -> None:
        s = jobs.events_stream(spark, sf_dir).select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        with jobs._stream_conf(
            spark, jobs.stream_partitions(fixture_bytes(sf_dir, "events"))
        ):
            q = (
                s.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    run_once()
    run_once()  # replay: must be a no-op under the same checkpoint
    back = spark.read.parquet(out_dir)
    return (
        back.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("cents"))
        .orderBy("event_type")
    )


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


@register(
    "s_late_data_drop",
    oracle="""
-- faithful model of the replay choreography: batches run q4,q3,q2,q1;
-- the watermark (batch max ts - 1h) binds with ONE batch of lag, so
-- q4/q3 are always accepted, q2 faces wm=max(q4)-1h and q1 faces
-- wm=max(q3∪q4)-1h. A quartile whose upstream max is NULL (empty)
-- leaves the watermark unset — nothing drops. On well-separated
-- fixtures this reduces to the old 'quartiles 3∪4 survive'; on
-- degenerate inputs (single row, zero-variance ts) nothing is late.
WITH ranked AS (
  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
    CAST(round(value * 100, 0) AS BIGINT) AS cents,
    ntile(4) OVER (ORDER BY ts, event_id) AS qt
  FROM events WHERE ts IS NOT NULL
),
wm AS (
  SELECT (SELECT max(ts) FROM ranked WHERE qt = 4) AS mx4,
         (SELECT max(ts) FROM ranked WHERE qt >= 3) AS mx34
),
kept AS (
  SELECT r.* FROM ranked r, wm
  WHERE r.qt >= 3
     OR (r.qt = 2 AND (wm.mx4 IS NULL
                       OR r.ts >= wm.mx4 - INTERVAL 1 HOUR))
     OR (r.qt = 1 AND (wm.mx34 IS NULL
                       OR r.ts >= wm.mx34 - INTERVAL 1 HOUR))
)
SELECT date_trunc('hour', ts) AS h, event_type,
  CAST(count(*) AS BIGINT) AS cnt,
  CAST(sum(cents) AS BIGINT) AS cents
FROM kept
GROUP BY h, event_type ORDER BY h, event_type
""",
    tags=("I1", "I5", "A6"),
)
def s_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark DROP semantics, measured: the same four time-quarter
    chunks as s_chunked_replay but replayed in REVERSE order (newest
    quarter first, via explicit mtime stamps). MEASURED engine fact:
    the global watermark propagates with ONE BATCH OF LAG — batch 2
    (the second-newest quarter) still executes under the initial
    watermark and is ACCEPTED; the advanced watermark (corpus max −
    1 h) takes effect from batch 3, so quarters 1-2 drop entirely.
    The surviving aggregate therefore equals quartiles 3∪4 exactly
    (the oracle recomputes them relationally) — deterministic
    because mtime stamps pin batch order and maxFilesPerTrigger pins
    the batch decomposition. Together with s_chunked_replay
    (in-order → nothing dropped) this pins both halves of the
    watermark contract, including the propagation delay operators
    must budget for.
    """
    src = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type", "value")
        # NULL event times never reach a watermarked sink; excluding
        # them BEFORE quartiling keeps the chunk boundaries identical
        # to the oracle's (Spark sorts NULLS FIRST, DuckDB LAST)
        .filter(F.col("ts").isNotNull())
    )
    chunk_dir = scratch("late_drop_src")
    q = src.selectExpr("*", "ntile(4) over (order by ts, event_id) as qt")
    for k in range(1, 5):
        (
            q.filter(F.col("qt") == k)
            .drop("qt")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(chunk_dir, f"stage-{k}"))
        )
    flat_dir = scratch("late_drop_flat")
    os.makedirs(flat_dir, exist_ok=True)
    for k in range(1, 5):
        stage = os.path.join(chunk_dir, f"stage-{k}")
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        dst = os.path.join(flat_dir, f"chunk-{k}.parquet")
        shutil.copy(os.path.join(stage, part), dst)
        # REVERSED batch order: newest quarter gets the oldest mtime
        os.utime(dst, (1_700_000_000 - k, 1_700_000_000 - k))

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
    from parking_violations_data_pipeline_spark.streaming.jobs import run_available_now

    out = run_available_now(agg, "update", src_bytes=fixture_bytes(sf_dir, "events"))
    final = out.groupBy("h", "event_type").agg(
        F.max("cnt").alias("cnt"), F.max_by("cents", "cnt").alias("cents")
    )
    return final.orderBy("h", "event_type")


@register(
    "s_progress_metrics",
    oracle="""
SELECT
  CAST(count(*) AS BIGINT) AS n_input_rows,
  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
  TRUE AS metrics_account_for_all_rows
FROM events
""",
    tags=("A6", "I8", "L"),
)
def s_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observability contract: the numInputRows reported
    across StreamingQuery progress events must sum to EXACTLY the
    rows the source holds — the invariant every lag/throughput
    monitor silently assumes (an under-reporting metrics bus makes
    a healthy pipeline look stalled, an over-reporting one hides
    data loss). A windowless pass-through stream drains under
    availableNow; the MEASURED progress total is compared in-plan
    against the relational count the oracle re-derives.
    """
    s = jobs.events_stream(spark, sf_dir).select("event_id", "event_type")
    name = f"progress_probe_{os.getpid()}"
    ckpt = scratch(f"ckpt_{name}")
    q = (
        s.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress_rows = sum(
        int(p["numInputRows"]) for p in q.recentProgress if p is not None
    )
    sunk = spark.table(name)
    n_sunk = sunk.count()
    # countDistinct, not distinct().count(): SQL COUNT(DISTINCT) never
    # counts the NULL group (an all-NULL feed has zero types)
    n_types = sunk.agg(F.countDistinct("event_type")).first()[0]
    ok = progress_rows == n_sunk
    return local_df(
        spark,
        [(n_sunk, n_types, bool(ok))],
        "n_input_rows long, n_types long, metrics_account_for_all_rows boolean",
    )


@register(
    "s_stream_stream_outer",
    oracle="""
WITH c AS (
  SELECT event_id AS c_id, user_id AS c_user, epoch_us(ts) AS c_us
  FROM events WHERE event_type = 'click' AND ts IS NOT NULL
    AND ts > TIMESTAMP '1970-01-01 00:00:00'  -- admission contract
),
p AS (
  SELECT user_id AS p_user, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
    AND ts > TIMESTAMP '1970-01-01 00:00:00'  -- admission contract
),
j AS (
  SELECT c.c_id, p.p_us
  FROM c LEFT JOIN p ON c.c_user = p.p_user
    AND p.p_us >= c.c_us AND p.p_us <= c.c_us + 1800000000
)
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(p_us) AS BIGINT) AS n_matched,
  CAST(count(*) FILTER (WHERE p_us IS NULL) AS BIGINT) AS n_unmatched
FROM j
""",
    tags=("I9", "I7", "C2"),
)
def s_stream_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join under watermarks: every click
    joined to purchases within its 30-minute window, and clicks with
    NO qualifying purchase emitted with nulls — but only after the
    watermark passes their window (the state-eviction proof). The
    drained sink must equal the batch LEFT JOIN bit-for-bit: matched
    pair count AND unmatched count — the unmatched side only appears
    if watermark advancement + eviction actually work (see
    jobs.stream_stream_outer_unmatched for the flush-sentinel batch
    choreography that makes the final eviction observable in replay)."""
    pairs = jobs.stream_stream_outer_unmatched(spark, sf_dir)
    real = pairs.filter(F.col("c_user") >= 0)
    return real.agg(
        F.count("*").alias("n_rows"),
        F.count("p_ts").alias("n_matched"),
        F.count(F.when(F.col("p_ts").isNull(), 1)).alias("n_unmatched"),
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


@register(
    "s_stream_observe",
    oracle="""
SELECT
  CAST(count(*) AS BIGINT) AS observed_rows,
  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
    AS observed_cents,
  CAST(count(*) FILTER (WHERE value <= 0) AS BIGINT) AS observed_nonpos
FROM events
""",
    tags=("A6", "I8"),
)
def s_stream_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observe(): named data-quality counters attached to
    the streaming plan itself (row count, cents total, non-positive
    values) and read back from each micro-batch's
    progress.observedMetrics — the zero-extra-scan monitoring hook
    (the streaming sibling of etl_inflight_observe). The counters
    accumulate per batch; their drain-total must equal the batch
    answer over the same source exactly — if the observation point
    saw fewer rows than the sink wrote, the monitor is lying. Metrics
    are collected via a StreamingQueryListener-free path: summing
    recentProgress after availableNow completes."""
    s = jobs.events_stream(spark, sf_dir)
    observed = s.observe(
        "dq",
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        F.count(F.when(F.col("value") <= 0, 1)).alias("nonpos"),
    )
    name = f"s_observe_{os.getpid()}"
    ckpt = scratch(f"ckpt_{name}")
    q = (
        observed.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = nonpos = 0
    cents = None  # SQL sum: NULL when no batch observed any value
    for p in q.recentProgress:
        m = p["observedMetrics"].get("dq") if p["observedMetrics"] else None
        if m:
            rows += m["rows"] or 0
            if m["cents"] is not None:
                cents = (cents or 0) + m["cents"]
            nonpos += m["nonpos"] or 0
    return local_df(
        spark,
        [(rows, cents, nonpos)],
        "observed_rows long, observed_cents long, observed_nonpos long",
    )


@register(
    "s_stream_sink_partitioned",
    oracle="""
SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS cnt,
  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM events WHERE event_type = 'purchase'
GROUP BY d ORDER BY d
""",
    tags=("A6", "A5"),
)
def s_stream_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATE-PARTITIONED streaming file sink: the streaming writer lays
    out `d=YYYY-MM-DD/` directories exactly like a batch partitioned
    write (per-partition exactly-once through the same sink log), so
    downstream batch readers partition-prune streamed output with no
    compaction step. The drained layout is verified two ways: the
    re-read aggregate equals the batch answer, AND the directory
    names themselves are checked (one per day — the physical layout
    contract)."""
    from parking_violations_data_pipeline_spark.streaming import jobs

    out_dir = scratch("stream_part_out")
    ckpt = scratch("ckpt_stream_part")
    s = (
        jobs.events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "value",
            F.to_date("ts").alias("d"),
        )
    )
    with jobs._stream_conf(
        spark, jobs.stream_partitions(fixture_bytes(sf_dir, "events"))
    ):
        q = (
            s.writeStream.format("parquet")
            .partitionBy("d")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    part_dirs = (
        [f for f in os.listdir(out_dir) if f.startswith("d=")]
        if os.path.isdir(out_dir)
        else []
    )
    # the layout contract only binds when something streamed: a feed
    # with no purchases legitimately produces an empty sink
    n_src = s.sparkSession.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("event_type") == "purchase"
    ).limit(1).count()
    assert part_dirs or n_src == 0, "partitioned sink produced no d= directories"
    back = (
        spark.read.parquet(out_dir)
        if part_dirs
        else spark.createDataFrame(
            [], "event_id long, value double, d date"
        )
    )
    return (
        back.groupBy("d")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        )
        .orderBy("d")
    )
