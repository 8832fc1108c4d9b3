"""Structured Streaming surface (SURVEY.md §2 I).

Correctness protocol: the driver's oracle is batch DuckDB, so every
streaming query here runs with trigger(availableNow=True) over the
same parquet the batch oracle reads, lands in a memory sink, and the
sink table is returned as a regular DataFrame. In replay no data is
late, so watermarked results equal the batch answer — which makes
most of the streaming inventory oracle-CHECKABLE, not just rows-only.

In production the same plans run unchanged against a live source
(kafka/files) with real watermark-driven state eviction; state lives
in the checkpointed state store (RocksDB on a cluster).
"""

from __future__ import annotations

import contextlib
import itertools
import math
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from parking_violations_data_pipeline_spark.catalog import (
    fixture_bytes,
    normalize_ts,
    scratch,
)
from parking_violations_data_pipeline_spark.functions.localrel import local_df
from pyspark.sql import types as T

_counter = itertools.count()

# sf_dir -> staged stream source dir, cleared and linked once per
# process. A checkpoint records its source path, so a restarted query
# must see the same dir; and clearing it per call would pull it from
# under a stream another thread is draining.
_STREAM_SRC: dict[str, str] = {}
_STREAM_SRC_LOCK = threading.Lock()

EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # ns epoch (legacy.parquet.nanosAsLong)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 streaming source: the events table as an unbounded stream.
    Same timestamp rule as the batch catalog (catalog.normalize_ts) so
    stream and batch plans see identical timestamps.

    The file source requires a DIRECTORY (new files appear over time);
    the fixture is a single file, so we stage a symlink to it in a
    scratch dir — zero copy, and appending more files to that dir is
    exactly how incremental arrival works in production."""
    from parking_violations_data_pipeline_spark.session import ensure_engine_confs

    ensure_engine_confs(spark)
    src = os.path.join(sf_dir, "events.parquet")
    # schema from the actual footers: older fixtures carry ns-epoch
    # longs (legacy conf), the shipped ones and engine-written datasets
    # carry real timestamps
    schema = spark.read.parquet(src).schema
    if os.path.isdir(src):
        # already a directory of part files — stream it directly
        stream_path = src
    else:
        with _STREAM_SRC_LOCK:
            if sf_dir not in _STREAM_SRC:
                _STREAM_SRC[sf_dir] = scratch("stream_src", sf_dir)
            stream_path = _STREAM_SRC[sf_dir]
            link = os.path.join(stream_path, "events.parquet")
            if not os.path.lexists(link):
                os.makedirs(stream_path, exist_ok=True)
                # absolutize: a RELATIVE src is resolved against the
                # LINK's directory by the kernel (a dangling symlink)
                os.symlink(os.path.abspath(src), link)
    return normalize_ts(spark.readStream.schema(schema).parquet(stream_path))


def stream_partitions(src_bytes: int | None) -> int:
    """Scale-adaptive state/shuffle partition count for a streaming
    query (round-11 optimization, guide §2: partitioning must derive
    from input size, not a constant tuned for local mode or the
    cluster).

    Why it matters: every stateful operator commits one state-store
    delta file PER PARTITION PER MICRO-BATCH (HDFSBackedStateStore;
    RocksDB behaves the same way per instance). At the session default
    of 64 shuffle partitions, a 3-micro-batch stream-stream join pays
    64 x n_stateful_ops x 3 fsync'd commit files to process a 2 MB
    fixture — measured to dominate every s_* entry's wall time at the
    gate scales. Sizing partitions to the data bounds the commit count
    while keeping per-partition batch slices ~8 MB.

    Production: `SPARK_GRAFT_STREAM_PARTS` pins the count outright
    (a real deployment sizes state partitions to peak throughput and
    must keep them STABLE across restarts — the count is baked into
    the checkpoint); without it the count derives from the source
    size at ~8 MB per partition per batch, clamped to [1, 4096].
    Local fixtures (~2 MB) and an empty or unmeasured source get 1
    partition; a 100-TB backlog with per-batch admission control gets
    the cap. Measured on 4 cores: s_tumbling_window over 20k events
    (~0.5 MB) sums ~1000 ms of state-store commit time at 8 partitions
    and ~45 ms at 1; s_stream_stream_outer over 0.5M events (10 MB)
    takes 12.2 / 9.2 / 10.0 s at 1 / 2 / 4 partitions, and over 2M
    events (40 MB) 26.5 / 19.8 / 21.3 s at 2 / 4 / 8, so a 32 MB slice
    would leave cores idle on state-heavy joins."""
    env = os.environ.get("SPARK_GRAFT_STREAM_PARTS")
    if env and env.isdigit():
        return int(env)
    if not src_bytes or src_bytes <= 0:
        return 1
    return min(4096, math.ceil(src_bytes / (8 << 20)))


@contextlib.contextmanager
def _stream_conf(spark: SparkSession, n_parts: int | None):
    """Pin spark.sql.shuffle.partitions around a streaming start: the
    state-store partition count is read from this conf when the query
    first starts on a fresh checkpoint. Restored afterwards so batch
    plans built later keep the session default. Results are partition-
    count invariant (CONF_ROBUST shuf1/shuf97 sweeps); only commit I/O
    and task counts change."""
    if n_parts is None:
        yield
        return
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def run_available_now(
    df: DataFrame,
    output_mode: str = "complete",
    src_bytes: int | None = None,
) -> DataFrame:
    """Drain the finite stream into a memory sink and hand back the
    sink table. availableNow = process everything, then stop (the
    batch-equivalence trigger, §2 A6/I8). `src_bytes` (driver-side
    source size) sizes the state/shuffle partition count adaptively —
    see stream_partitions."""
    name = f"s_sink_{os.getpid()}_{next(_counter)}"
    ckpt = scratch(f"ckpt_{name}")
    spark = df.sparkSession
    with _stream_conf(spark, stream_partitions(src_bytes)):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.table(name)
    return out


def tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1+I2: watermarked tumbling 1-hour windows per event_type."""
    s = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sv"))
    )
    return run_available_now(
        agg, "complete", src_bytes=fixture_bytes(sf_dir, "events")
    ).select(F.col("w.start").alias("h"), "event_type", "cnt", "sv")


def sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3: sliding windows (1 hour long, every 15 minutes) — each event
    lands in 4 overlapping windows."""
    s = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        s.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    return run_available_now(
        agg, "complete", src_bytes=fixture_bytes(sf_dir, "events")
    ).select(F.col("w.start").alias("ws"), "event_type", "cnt")


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4: native session windows (30-minute gap) per user — the
    streaming twin of the batch gaps-and-islands sessionization."""
    s = (
        events_stream(spark, sf_dir)
        .filter(admissible_event_time("ts"))
        .withWatermark("ts", "10 minutes")
    )
    agg = (
        s.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    return run_available_now(
        agg, "complete", src_bytes=fixture_bytes(sf_dir, "events")
    ).select(
        "user_id", F.col("w.start").alias("st"), F.col("w.end").alias("en"), "n"
    )


def admissible_event_time(col: str = "ts"):
    """Admission condition for APPEND/UPDATE-mode stateful event-time
    operators: non-NULL AND strictly after the Unix epoch.

    Two classes of inadmissible event time, both measured:
    - NULL: can never be watermark-released — immortal state (the
      round-6 all-NULL-ts finding).
    - ts <= epoch 0: Spark initializes the event-time watermark to
      epoch 0, so a pre-epoch (or exactly-epoch) row is late-on-arrival
      in the FIRST micro-batch of every run — dropDuplicatesWithinWatermark
      dropped a 1950 row and an epoch-0 row on the extremes fixture
      while the batch oracle kept both. COMPLETE-mode window
      aggregations disable late filtering and keep such rows, which is
      why only the append/update stateful entries diverged.

    Filtering explicitly on BOTH sides turns the engine-internal
    initialization artifact into a documented, oracle-mirrored
    contract (`AND ts > TIMESTAMP '1970-01-01 00:00:00'`).

    The cutoff is built with `timestamp_seconds(0)` — a timezone-
    INDEPENDENT instant — not by parsing a datetime string. A string
    literal parses in `spark.sql.session.timeZone`, so under a
    non-UTC session (the Tokyo conf-robustness axis) the admission
    cutoff would shift by the UTC offset while the naive-epoch DuckDB
    oracle stayed put, admitting/dropping rows inside the offset
    window asymmetrically. Spark's watermark itself initializes to
    absolute epoch 0, so the engine-side predicate must be absolute
    too (round-8 ADVICE fix)."""
    c = F.col(col)
    return c.isNotNull() & (c > F.timestamp_seconds(F.lit(0)))


def dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I5: streaming dedup — the stream unioned with itself (simulated
    at-least-once delivery), dropDuplicatesWithinWatermark on event_id,
    then a downstream aggregate proving each event counted once."""
    # NULL event times are dropped BEFORE the stateful operator: a row
    # with no event time can never be expired by the watermark, so
    # dropDuplicatesWithinWatermark would hold its key forever —
    # measured on an all-NULL-ts corpus (the round-6 adversarial
    # sweep): Spark happily dedups the rows but the state entries are
    # immortal, which at 100 TB is an unbounded state leak. Dropping
    # them enforces the documented contract ('NULL event times never
    # enter watermarked state') on both engine and oracle.
    a = (
        events_stream(spark, sf_dir)
        .filter(admissible_event_time("ts"))
        .withWatermark("ts", "30 minutes")
    )
    b = (
        events_stream(spark, sf_dir)
        .filter(admissible_event_time("ts"))
        .withWatermark("ts", "30 minutes")
    )
    deduped = a.unionByName(b).dropDuplicatesWithinWatermark(["event_id"])
    agg = deduped.groupBy("event_type").agg(
        F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sv")
    )
    return run_available_now(agg, "complete", src_bytes=fixture_bytes(sf_dir, "events"))


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I7: enrich the stream with a static broadcast dimension, then
    aggregate the weighted metric."""
    weights = local_df(
        spark,
        [("click", 1.0), ("view", 0.5), ("purchase", 5.0), ("signup", 3.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    s = events_stream(spark, sf_dir)
    joined = s.join(F.broadcast(weights), "event_type")
    agg = joined.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum(F.col("value") * F.col("weight")), 4).alias("weighted"),
    )
    return run_available_now(agg, "complete", src_bytes=fixture_bytes(sf_dir, "events"))


def stream_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I7+: stream-stream inner join — click→purchase attribution.
    Two independent readStream instances over the events source (each
    micro-batch planner tracks its own offsets, exactly the two-topic
    production shape), both watermarked, joined per user with the
    event-time range purchase.ts ∈ [click.ts, click.ts + 30 min].
    The range bound + watermarks let Spark expire join state — without
    them the click buffer grows forever; with them state is bounded by
    30 min + watermark per user. Append mode emits each matched pair
    exactly once; the per-user rollup happens batch-side on the
    drained sink (chaining a streaming agg after a stream-stream join
    adds a second stateful stage with stricter output-mode rules —
    deliberately avoided here)."""
    # ts IS NOT NULL before the stateful join: a NULL-event-time row
    # can never satisfy the range condition (so dropping it is
    # output-neutral, verified empirically) and can never be released
    # by the watermark either — buffered, it would sit in join state
    # forever (the immortal-state class found on the all-NULL-ts
    # adversarial corpus in s_dedup_watermark).
    clicks = (
        events_stream(spark, sf_dir)
        .filter((F.col("event_type") == "click") & admissible_event_time("ts"))
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter((F.col("event_type") == "purchase") & admissible_event_time("ts"))
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    pairs = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    )
    return run_available_now(pairs, "append", src_bytes=fixture_bytes(sf_dir, "events"))


def stream_to_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 sink side: stream → filter/project → parquet file sink
    (append mode, exactly-once via checkpoint + file-sink log), then
    read the committed output back as a batch table."""
    out_dir = scratch("stream_parquet_out")
    ckpt = scratch("ckpt_stream_parquet_out")
    s = events_stream(spark, sf_dir).filter(F.col("value") > 0).select(
        "event_id", "event_type", "value", "ts"
    )
    with _stream_conf(spark, stream_partitions(fixture_bytes(sf_dir, "events"))):
        q = (
            s.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out_dir)


def stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6: custom stateful per-user aggregation via
    applyInPandasWithState — running (count, total, max) kept in an
    explicit state store across micro-batches. In replay the final
    state equals the batch groupBy, so this is oracle-checkable."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n long, total double, mx double"
    state_schema = "n long, total double, mx double"

    def update(key, pdfs, state: GroupState):
        # SQL aggregate NULL semantics: count(*) counts every row, but
        # sum/max ignore NULL values and are themselves NULL when a
        # group has no non-NULL value (never 0.0 / -inf)
        n, total, mx = state.get if state.exists else (0, None, None)
        for pdf in pdfs:
            n += len(pdf)
            vals = pdf["value"].dropna()
            if len(vals):
                total = (total or 0.0) + float(vals.sum())
                vmx = float(vals.max())
                mx = vmx if mx is None else max(mx, vmx)
        state.update((n, total, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n": [n],
                "total": [None if total is None else round(total, 2)],
                "mx": [mx],
            }
        )

    s = events_stream(spark, sf_dir).select("user_id", "value")
    result = s.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    out = run_available_now(result, "update", src_bytes=fixture_bytes(sf_dir, "events"))
    # update-mode into a memory sink APPENDS one row per key per
    # micro-batch; keep only the final emission per user (running n is
    # strictly increasing), so multi-file / maxFilesPerTrigger inputs
    # yield the same answer as a single-batch replay
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.desc("n"))
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/I8: foreachBatch — the production sink escape hatch (arbitrary
    batch-DataFrame logic per micro-batch: upserts, multi-table writes,
    JDBC). Each micro-batch is aggregated and written into its OWN
    `batch_id={id}` partition directory with overwrite — the
    foreachBatch idempotency contract (round-11): Spark replays a
    micro-batch under the SAME batch_id after a crash between the
    handler completing and the checkpoint commit landing, so a blind
    append would double-count that batch in the fold. Overwriting the
    batch's own directory makes replay a no-op; exactly-once then
    holds end-to-end (kill test: tests/test_stream_crash_r11.py). The
    final read folds batches together, which equals the batch answer
    regardless of how availableNow chunked the input."""
    out_dir = scratch("foreach_batch_out")
    ckpt = scratch("ckpt_foreach_batch_out")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(F.count("*").alias("cnt"), F.sum("value").alias("sv"))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    s = events_stream(spark, sf_dir)
    with _stream_conf(spark, stream_partitions(fixture_bytes(sf_dir, "events"))):
        q = (
            s.writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out_dir)


def transform_with_state_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6 via Spark 4's transformWithStateInPandas — the successor API
    to applyInPandasWithState (typed state variables, timers, TTL,
    RocksDB-only state store). ENVIRONMENT-GATED: the API's
    driver↔worker state protocol is protobuf-based and this container
    ships no google-protobuf (verified: StateMessage_pb2 import fails;
    no package installs available), so calling this raises with the
    reason. stateful_user_stats (applyInPandasWithState) is the
    registered, fully-tested I6 path; this function is the drop-in
    migration target on a normal cluster."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        raise RuntimeError(
            "transformWithStateInPandas requires google-protobuf (absent from "
            "this container); use stateful_user_stats (applyInPandasWithState)"
        ) from e

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    state_t = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
    )
    out_t = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    class RunningStats(StatefulProcessor):
        def init(self, handle):
            self._state = handle.getValueState("agg", state_t)

        def handleInputRows(self, key, rows, timer_values):
            n, total = self._state.get() if self._state.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((int(n), float(total)))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [int(n)], "total": [round(float(total), 2)]}
            )

        def close(self):
            pass

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    s = events_stream(spark, sf_dir).select("user_id", "value")
    res = s.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningStats(),
        outputStructType=out_t,
        outputMode="Update",
        timeMode="None",
    )
    out = run_available_now(res, "update", src_bytes=fixture_bytes(sf_dir, "events"))
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.desc("n"))
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def stream_stream_outer_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I7++: watermarked stream-stream LEFT OUTER join — the semantic
    the inner join can't show: an unmatched left row is emitted (with
    nulls) only once the watermark proves no future match can arrive.
    That proof needs the watermark to ADVANCE PAST c_ts + 30 min after
    the real data, which a single-batch replay never does (the final
    batch's watermark update has no later batch to apply in). So the
    staged source adds two far-future `__flush__` sentinel rows as
    separate files and reads with maxFilesPerTrigger=1: batch 1 = all
    real events, batch 2 = flush #1 (advances the watermark), batch 3
    = flush #2 (runs WITH the advanced watermark → evicts and emits
    every unmatched click). Sentinels flow through the watermark node
    AND through the join (a pre-join filter would be pushed below the
    watermark and freeze it — measured); each sentinel matches its own
    copy on the purchase side (identical timestamp, user_id=-1 — the
    two flush rows sit 2h apart and do NOT match each other), so the
    self-matched sentinel pairs are scrubbed from the drained BATCH
    result here (c_user >= 0) where pushdown can no longer reach the
    streaming plan. Callers get real rows
    only. File order is pinned by mtime — the chunked-replay
    lesson."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "events.parquet")
    stage = scratch("outer_join_src")
    os.makedirs(stage)
    link = os.path.join(stage, "events.parquet")
    os.symlink(os.path.abspath(src), link)

    raw_schema = pq.read_schema(src)
    ts_field = raw_schema.field("ts")
    hi = [t for t in pq.read_table(src, columns=["ts"])["ts"].to_pylist()
          if t is not None]
    if hi:
        max_ts = max(hi)
    else:
        # no (non-NULL) event times at all: anchor the flush sentinels
        # at a fixed epoch — they are then the only rows in the stream
        # and the post-drain scrub leaves the correct empty result
        if pa.types.is_integer(ts_field.type):
            max_ts = 1_600_000_000_000_000_000  # ns
        else:
            import datetime as _dt

            max_ts = _dt.datetime(2020, 9, 13)
    for i, bump in enumerate((1, 2)):
        if pa.types.is_integer(ts_field.type):
            flush_ts = max_ts + bump * 7_200_000_000_000  # +2h/+4h in ns
        else:
            import datetime as _dt

            flush_ts = max_ts + _dt.timedelta(hours=2 * bump)
        tbl = pa.table(
            {
                "event_id": pa.array([-(i + 1)], pa.int64()),
                "ts": pa.array([flush_ts], ts_field.type),
                "user_id": pa.array([-1], pa.int64()),
                "event_type": pa.array(["__flush__"], pa.string()),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array(["{}"], pa.string()),
            }
        ).cast(raw_schema)
        pq.write_table(tbl, os.path.join(stage, f"zz_flush_{i}.parquet"))
    now = os.stat(src).st_mtime
    os.utime(link, (now, now), follow_symlinks=False) if hasattr(
        os, "utime"
    ) else None
    for i in range(2):
        p = os.path.join(stage, f"zz_flush_{i}.parquet")
        os.utime(p, (now + 10 + i, now + 10 + i))

    def staged_stream() -> DataFrame:
        from parking_violations_data_pipeline_spark.session import ensure_engine_confs

        ensure_engine_confs(spark)
        schema = spark.read.parquet(link).schema
        return normalize_ts(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(stage)
        )

    clicks = (
        staged_stream()
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_type").alias("c_type"),
        )
        .withWatermark("c_ts", "10 minutes")
        # keep the sentinels IN the stream: a plain equality filter is
        # pushed below the EventTimeWatermark node into the scan, so
        # the flush rows would never advance the watermark (measured:
        # numInputRows 0, watermark frozen at max-click − delay).
        # They can't pollute results — user_id −1 matches nothing real
        # and the query filters c_user ≥ 0 post-join. NULL event times
        # are dropped for the same reason as the inner join: they can
        # never be watermark-released from the outer-join buffer.
        .filter(
            F.col("c_type").isin("click", "__flush__")
            & admissible_event_time("c_ts")
        )
    )
    purchases = (
        staged_stream()
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
            F.col("event_type").alias("p_type"),
        )
        .withWatermark("p_ts", "10 minutes")
        .filter(
            F.col("p_type").isin("purchase", "__flush__")
            & admissible_event_time("p_ts")
        )
    )
    pairs = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    )
    # Scrub the sentinel rows on the BATCH side (post-drain): here the
    # filter cannot be pushed below the EventTimeWatermark node, so the
    # flush choreography is preserved and callers see only real rows.
    return run_available_now(
        pairs, "append", src_bytes=fixture_bytes(sf_dir, "events")
    ).filter(F.col("c_user") >= 0)
