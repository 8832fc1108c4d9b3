"""The 9 headline queries measured in BASELINE.md (SURVEY.md §6/App-A).

These span the core of the §2 inventory: scan+filter+agg (A1,B3,D1,F1),
multi-way joins (C1,C3), window rank (E1,E4), distinct (D2), JSON+time
agg (H2,H7), sessionization (E2,E3,I4-batch), word count (J1), vector
kNN (J7,J8). They are also what bench.py times at sf0.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import (
    LRUDict,
    fixture_stamp,
    fixture_tag,
    load_table,
    maybe_broadcast,
    query_vector,
)
from parking_violations_data_pipeline_spark.functions.timeutil import epoch_us
from parking_violations_data_pipeline_spark.registry import register

# per-table temp-view cache for the one-RPC spark.sql() build path
# (q_word_count r10, q_events_hourly r11): view name per
# (appId, sf_dir, table, fixture stamp) so one spark.sql() build
# resolves against the already-analyzed cached DataFrame (no per-build
# footer re-read, no stale view after a fixture rewrite). LRU-capped;
# the orphaned temp view of an evicted entry is re-created (same name)
# on the next build, so eviction costs one re-registration, never
# staleness.
_SQL_VIEWS: LRUDict = LRUDict(cap=64)


def _sql_view(spark: SparkSession, sf_dir: str, table: str) -> str:
    key = (spark.sparkContext.applicationId, sf_dir, table, fixture_stamp(sf_dir, table))
    view = _SQL_VIEWS.get(key)
    if view is None:
        # the view NAME is a function of the FULL path (fixture_tag), not
        # just the basename: two fixture dirs sharing a basename (a/docs,
        # b/docs) would otherwise overwrite each other's view while the
        # cache kept serving a hit against the wrong data
        view = f"hq_{table}_{fixture_tag(sf_dir)}"
        load_table(spark, sf_dir, table).createOrReplaceTempView(view)
        _SQL_VIEWS[key] = view
    return view


@register(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2)                                    AS sum_qty,
  round(sum(l_extendedprice), 2)                               AS sum_base,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,6))
                 * (1 - CAST(l_discount AS DECIMAL(15,6)))), 2) AS DOUBLE) AS sum_disc,
  CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(15,6))
                      * (1 - CAST(l_discount AS DECIMAL(15,6))) AS DECIMAL(18,6))
                 * (1 + CAST(l_tax AS DECIMAL(15,6)))), 2) AS DOUBLE) AS sum_charge,
  round(avg(l_quantity), 6)                                    AS avg_qty,
  round(avg(l_discount), 6)                                    AS avg_disc,
  count(*)                                                     AS cnt
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    tags=("A1", "B3", "D1", "F1"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → pushed-down ts filter → hash agg → sort.

    Catalyst plan (verified): parquet FileScan with PushedFilters on
    l_shipdate + pruned ReadSchema, partial+final HashAggregate, one
    shuffle on the 6-combo group key. Scales: map-side combine means
    shuffle volume is O(groups), not O(rows).
    """
    from parking_violations_data_pipeline_spark.functions.money import (
        sum_charge,
        sum_disc_price,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            sum_disc_price().alias("sum_disc"),
            sum_charge().alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("cnt"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_top_orders",
    oracle="""
SELECT o.o_orderkey,
  CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(15,6))
                 * (1 - CAST(l.l_discount AS DECIMAL(15,6)))), 2) AS DOUBLE) AS revenue,
  o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1995-03-15'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
    tags=("C1", "C3", "D1", "F3"),
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: filtered dims joined into fact, agg, top-10.

    customer/orders filters push down to their scans; Catalyst picks
    BroadcastHashJoin for both (verified — both sides small after
    filter); top-10 compiles to TakeOrderedAndProject (no global sort).
    Revenue rounded on both sides + o_orderkey tie-break so the LIMIT
    boundary is deterministic.
    """
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem")
    from parking_violations_data_pipeline_spark.functions.money import sum_disc_price

    # customer SCALES with the corpus (the segment filter keeps ~1/5 of
    # it) → size-gated hint, same treatment as q5 (round 12); past the
    # gate Catalyst/AQE fall back to a shuffle join.
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(
            maybe_broadcast(c, sf_dir, "customer"),
            o.o_custkey == c.c_custkey,
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(sum_disc_price().alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@register(
    "q5_region_revenue",
    oracle="""
SELECT n.n_name,
  CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(15,6))
                 * (1 - CAST(l.l_discount AS DECIMAL(15,6)))), 2) AS DOUBLE) AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY revenue DESC, n_name
""",
    tags=("C1", "C3", "D1", "F1"),
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join + agg.

    Join order written small→large (region→nation→customer→orders→
    lineitem) so each intermediate stays broadcast-able; Catalyst turns
    every dim join into a BroadcastHashJoin and only lineitem streams.
    The supplier join carries the n_nationkey co-membership predicate.
    """
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    dim = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    # region/nation are constant-cardinality dims → unconditional hint;
    # customer/orders/supplier SCALE with the corpus → size-gated hint
    # (maybe_broadcast). The lineitem⋈od join is hinted on the od side
    # because Catalyst's static estimate inverts it: the pruned 4-column
    # lineitem scan estimates under the 10 MB auto-broadcast threshold
    # while the joined od side estimates huge, so the planner BUILT THE
    # HASH ON THE FACT TABLE (BuildLeft over 600k lineitem rows —
    # plans/r11/q5_region_revenue_before.txt (3)/(21)), collecting and
    # hashing the big side so the small side could probe it. Hinting od
    # keeps lineitem streaming; past the size gate neither side is
    # hinted and the planner falls back to shuffle joins.
    cd = c.join(F.broadcast(dim), c.c_nationkey == dim.n_nationkey).select(
        "c_custkey", "c_nationkey", "n_name"
    )
    cd = maybe_broadcast(cd, sf_dir, "customer")
    od = o.join(cd, o.o_custkey == cd.c_custkey).select(
        "o_orderkey", "c_nationkey", "n_name"
    )
    od = maybe_broadcast(od, sf_dir, "orders", "customer")
    j = li.join(od, li.l_orderkey == od.o_orderkey).join(
        maybe_broadcast(s, sf_dir, "supplier"),
        (li.l_suppkey == s.s_suppkey) & (od.c_nationkey == s.s_nationkey),
    )
    from parking_violations_data_pipeline_spark.functions.money import sum_disc_price

    return (
        j.groupBy("n_name")
        .agg(sum_disc_price().alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "q_window_rank",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rk
  FROM orders
) WHERE rk <= 3
""",
    tags=("E1", "E4"),
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via rank() window (E1) + filter (E4).

    One shuffle on o_custkey; rank uses stored o_totalprice (not a
    computed double) so both sides rank identically.
    """
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 3)
    )


@register(
    "q_distinct_parts",
    oracle="""
SELECT l_returnflag, count(DISTINCT l_partkey) AS ndp, count(*) AS cnt
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
    tags=("D2", "D1"),
)
def q_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct per group (D2), explicit two-phase form
    (round-11 A/B, PERF_COMPARE.md): group by (flag, partkey) with a
    map-side-combinable count, then fold per flag — ndp counts the
    non-NULL partkey groups (countDistinct's NULL semantics), cnt
    re-sums the partials. Wins over the single-agg countDistinct
    formulation on both min and med at sf0.1 (0.411 vs 0.422 / 0.545
    vs 0.658); the first shuffle carries one partial per (flag,
    partkey) pair rather than raw rows, which is also the shape that
    survives a hot flag at 100 TB (partkey spreads the key space)."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.groupBy("l_returnflag", "l_partkey").agg(
        F.count("*").alias("c")
    )
    return (
        pairs.groupBy("l_returnflag")
        .agg(
            F.count("l_partkey").alias("ndp"),
            F.sum("c").alias("cnt"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_events_hourly",
    oracle="""
SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, count(*) AS cnt,
  round(sum(value), 2) AS sv,
  round(avg(CAST(json_extract(CASE WHEN json_valid(props) THEN props END, '$.k') AS INT)), 6) AS avg_k
FROM events GROUP BY event_type, h ORDER BY event_type, h
""",
    tags=("H2", "H7", "D1"),
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type rollup with a JSON-extracted metric (H2+H7+D1).

    get_json_object runs JVM-side (no Python UDF); ts arrives already
    µs-normalized from the catalog so date_trunc matches DuckDB's
    ns→µs truncation exactly.

    Round-11 build path: ONE spark.sql() call over the session-cached
    events view instead of 5 chained DataFrame calls — same logical
    plan, but the chained build's per-operator Py4J RPCs carried a
    high-variance tail (interleaved A/B at sf0.1, 9 repeats: build min
    57.8→15.9 ms, wall med 0.734→0.599 s;
    scripts/ab_events_hourly_r11.py)."""
    view = _sql_view(spark, sf_dir, "events")
    return spark.sql(
        f"""SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS cnt,
  round(sum(value), 2) AS sv,
  round(avg(CAST(get_json_object(props, '$.k') AS INT)), 6) AS avg_k
FROM {view}
GROUP BY event_type, date_trunc('hour', ts)
ORDER BY event_type, h"""
    )


@register(
    "q_sessionize",
    oracle="""
WITH g AS (
  SELECT user_id, ts,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS brk
  FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        WHERE ts IS NOT NULL)
),
s AS (SELECT user_id, ts,
      -- ROWS frame explicitly: the default RANGE frame treats tied
      -- (or all-NULL) ts as peers and would merge their break flags
      CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid FROM g)
SELECT user_id, sid, count(*) AS n, min(ts) AS st, max(ts) AS en
FROM s GROUP BY user_id, sid ORDER BY user_id, sid
""",
    tags=("E2", "E3", "I4"),
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap sessionization, batch form (E2 lag + E3 running sum).

    Classic gaps-and-islands: one shuffle on user_id serves both window
    passes and the final agg reuses the same partitioning. No doubles
    in the output → hash-stable without rounding. Streaming twin:
    session_window in streaming module (I4).
    """
    # NULL event times are outside every session by contract (they
    # cannot be ordered); dropped on BOTH sides — mirrors the
    # streaming pre-stateful NULL-ts drop (jobs.py, round 6)
    e = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts")
        .filter(F.col("ts").isNotNull())
    )
    w = W.partitionBy("user_id").orderBy("ts")
    # Gap at microsecond precision (epoch_us) to match the oracle's
    # INTERVAL comparison exactly — second-truncated casts would merge
    # sessions split by a sub-second-past-30-min gap. epoch_us (not raw
    # unix_micros) because the driver session reads ts as TIMESTAMP_NTZ.
    us = epoch_us("ts")
    gap = us - F.lag(us, 1).over(w)
    brk = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    return (
        e.withColumn("brk", brk)
        .withColumn("sid", F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.count("*").alias("n"), F.min("ts").alias("st"), F.max("ts").alias("en"))
        .orderBy("user_id", "sid")
    )


@register(
    "q_word_count",
    oracle="""
SELECT w AS word, count(*) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
WHERE w <> '' GROUP BY w ORDER BY cnt DESC, word LIMIT 20
""",
    tags=("J1", "F3", "H5"),
)
def q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize + word count, top-20 (J1). split/explode stay in
    whole-stage codegen; tie-break on the word for a stable LIMIT.

    This query's wall time is ~90% fixed overhead (5000-row scan;
    PERF_COMPARE.md round-9 floor decomposition), so the round-10
    build path minimizes driver round trips: the plan is ONE
    spark.sql() call over a session-cached temp view instead of ~8
    chained DataFrame calls (each a Py4J RPC, each taxed by gateway
    latency under box contention). Same logical plan, measured wall
    min 315→187 ms on a contended box. The view is registered once
    per (appId, sf_dir, fixture stamp) — rewritten fixtures
    invalidate it, mirroring _QV_CACHE."""
    view = _sql_view(spark, sf_dir, "documents")
    return spark.sql(
        f"""SELECT word, count(*) AS cnt
FROM (SELECT explode(split(text, ' ')) AS word FROM {view})
WHERE word <> '' GROUP BY word ORDER BY cnt DESC, word LIMIT 20"""
    )


@register(
    "q_knn_cosine",
    oracle="""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
  CASE WHEN embedding IS NULL OR (SELECT qv FROM q) IS NULL THEN NULL
       ELSE round(list_inner_product(CAST(embedding AS DOUBLE[]), (SELECT CAST(qv AS DOUBLE[]) FROM q))
         / (sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
            * sqrt(list_inner_product((SELECT CAST(qv AS DOUBLE[]) FROM q), (SELECT CAST(qv AS DOUBLE[]) FROM q)))), 4) END AS sim
FROM embeddings
ORDER BY sim DESC, vec_id
LIMIT 10
""",
    tags=("J7", "J8", "H5"),
)
def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against vec_id=0 (J7/J8 baseline).

    Pure higher-order array expressions (zip_with + aggregate) — stays
    JVM-side, no Python boundary. Both sides compute in double and
    round(…,4) before the top-k so the cut is deterministic. The query
    norm is folded driver-side into a scalar literal (see inline note);
    only dot + self-norm run per row. Scale path: LSH-bucketed variant
    in operators/similarity.py.
    """
    from parking_violations_data_pipeline_spark.functions.vector import dot, norm

    e = load_table(spark, sf_dir, "embeddings")
    # query vector is a plan-time parameter: fold it as a literal array
    # (no join stage at all — the scan streams straight into TakeOrdered)
    cached = query_vector(e, sf_dir)
    # missing/NULL query vector → NULL literal, so sims are NULL
    # (matches the oracle's scalar subquery on the same input:
    # empty corpus → empty result; absent vec_id 0 → NULL sims)
    if cached is None:
        qv = F.lit(None).cast("array<double>")
        qn = F.lit(None).cast("double")
    else:
        qv = F.array(*[F.lit(x) for x in cached])
        # Fold the query norm driver-side: a higher-order aggregate over a
        # literal array is NOT constant-folded by Catalyst, so norm(qv)
        # would re-traverse the 128-element literal per row AND double the
        # generated code size (measured 2.2x slower). The python loop below
        # is the same left-to-right IEEE-double fold the JVM aggregate
        # performs, so the result is bitwise identical.
        s = 0.0
        for x in cached:
            s += x * x
        import math

        qn = F.lit(math.sqrt(s))
    sim = F.try_divide(dot(F.col("embedding"), qv), norm(F.col("embedding")) * qn)
    return (
        e.select("vec_id", "label", F.round(sim, 4).alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(10)
    )
