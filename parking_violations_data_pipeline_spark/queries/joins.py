"""C-family entries: joins. Interval, range and as-of joins, bloom and
dynamic-partition pruning, correlated EXISTS, point-in-time SCD2 and
bitemporal lookups, fan-out audits, and the transitive closure of the
nation trade graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import (
    load_table,
    maybe_broadcast,
    register_views,
    scratch,
)
from parking_violations_data_pipeline_spark.functions.localrel import local_df
from parking_violations_data_pipeline_spark.functions.timeutil import epoch_us
from parking_violations_data_pipeline_spark.operators.asof import asof_join
from parking_violations_data_pipeline_spark.operators.rangejoin import range_join_binned
from parking_violations_data_pipeline_spark.registry import register


@register(
    "c_interval_overlap_join",
    oracle="""
WITH iv AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
         epoch_us(min(ts)) AS st, epoch_us(max(ts)) AS en
  FROM events GROUP BY 1, 2
),
sh AS (
  SELECT d, s,
         epoch_us(CAST(d AS TIMESTAMP)) + s * 21600000000 AS sst
  FROM (SELECT DISTINCT d FROM iv), (VALUES (0),(1),(2),(3)) t(s)
)
SELECT iv.user_id, CAST(count(*) AS BIGINT) AS n_shifts
FROM iv JOIN sh ON iv.d = sh.d
  AND iv.st < sh.sst + 21600000000 AND iv.en >= sh.sst
GROUP BY iv.user_id ORDER BY iv.user_id
""",
    tags=("C7", "D1", "H2"),
)
def c_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: per-user daily activity spans
    [first_ts, last_ts] joined to the four 6-hour shift windows of
    the same day on the half-open overlap predicate
    (st < shift_end AND en >= shift_start).

    The scale story is the join shape: the equality on the DAY is the
    shuffle key, so the non-equi overlap predicate is only a residual
    filter inside each hash bucket — never a cartesian. All bound math
    in integer µs via epoch_us on both engines.
    """
    e = load_table(spark, sf_dir, "events")
    iv = (
        e.groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(
            epoch_us(F.min("ts")).alias("st"),
            epoch_us(F.max("ts")).alias("en"),
        )
    )
    six_h = 21_600_000_000  # 6h in µs
    sh = (
        iv.select("d")
        .distinct()
        .select(
            "d", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("s")
        )
        .select(
            "d",
            (epoch_us(F.col("d").cast("timestamp")) + F.col("s") * six_h).alias("sst"),
        )
    )
    j = iv.join(
        sh,
        (iv.d == sh.d) & (iv.st < sh.sst + six_h) & (iv.en >= sh.sst),
    )
    return (
        j.groupBy("user_id")
        .agg(F.count("*").alias("n_shifts"))
        .orderBy("user_id")
    )


@register(
    "c_join_hint_shuffle_hash",
    oracle="""
SELECT o.o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
""",
    tags=("C1", "C9"),
)
def c_join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy control: the SHUFFLE_HASH hint forces a
    ShuffledHashJoin where Catalyst would default to broadcast or
    sort-merge — the knob for fact-to-fact joins where the build side
    fits per-partition memory but not in a broadcast, and sorting
    both sides would dominate (plan pinned in test_plans_widen3).

    Semantics are unchanged (the oracle is a plain join); only the
    physical strategy moves. At 100 TB this is the difference between
    shuffling both sides once (hash build) and shuffling + sorting
    both sides (merge).
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "c_lateral_join",
    oracle="""
SELECT n_name, s_name, round(s_acctbal, 2) AS acctbal
FROM nation, LATERAL (
  SELECT s_name, s_acctbal FROM supplier
  WHERE s_nationkey = n_nationkey
  ORDER BY s_acctbal DESC, s_name LIMIT 2
) t
ORDER BY n_name, acctbal DESC, s_name
""",
    tags=("C7", "E4"),
)
def c_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (SQL:1999) on the Spark 4 SQL
    surface: top-2 suppliers by account balance per nation, written as
    a per-row dependent subquery instead of a window.

    Catalyst decorrelates the LATERAL + ORDER BY + LIMIT into a
    partitioned rank under the hood (DomainJoin rewrite), so the
    executed plan is the same shuffle-once window as q_window_rank —
    proving the query-language feature maps onto the scalable plan
    rather than a nested loop. Full-key ORDER BY keeps the driver
    hash stable.
    """
    register_views(spark, sf_dir)
    return spark.sql("""
SELECT n_name, s_name, round(s_acctbal, 2) AS acctbal
FROM nation, LATERAL (
  SELECT s_name, s_acctbal FROM supplier
  WHERE s_nationkey = n_nationkey
  ORDER BY s_acctbal DESC, s_name LIMIT 2
) t
ORDER BY n_name, acctbal DESC, s_name
""")


@register(
    "c_dpp_partition_pruned_join",
    oracle="""
SELECT CAST(s_nationkey AS BIGINT) AS supp_nation,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE n_regionkey = 2
GROUP BY s_nationkey ORDER BY supp_nation
""",
    tags=("C3", "A5", "A1"),
)
def c_dpp_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning through the canonical star-schema
    shape: the fact table is WRITTEN partitioned by supplier nation
    (25 partitions), and the dim is the NATION table filtered on a
    NON-key attribute (n_regionkey = 2). Which 5 nation keys qualify
    is only known after scanning the dim at runtime — a static
    optimizer cannot prune the fact — so Spark's PartitionPruning rule
    plants a dynamicpruning subquery into the fact scan's
    PartitionFilters and reuses the join's broadcast to evaluate it:
    5 of 25 partitions are read, the rest never open a file.

    At 100 TB this is the difference between scanning a fifth of a
    date/tenant-partitioned fact and scanning all of it every time a
    dim filter ("this region", "these account tiers") appears.
    tests/test_plans_widen45.py pins `dynamicpruningexpression` inside
    the re-read scan. The oracle checks the logical join result, which
    must be byte-equal regardless of pruning.
    """
    path = scratch("dpp_fact", sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    fact = li.join(maybe_broadcast(supp, sf_dir, "supplier"), li.l_suppkey == supp.s_suppkey).select(
        "l_extendedprice", F.col("s_nationkey").alias("supp_nation")
    )
    fact.write.mode("overwrite").partitionBy("supp_nation").parquet(path)
    # explicit schema: an empty fact writes no files (inference fails)
    back = spark.read.schema(fact.schema).parquet(path)
    dim = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 2)
        .select("n_nationkey")
    )
    return (
        back.join(F.broadcast(dim), back.supp_nation == dim.n_nationkey)
        .groupBy(F.col("supp_nation").cast("long").alias("supp_nation"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents"),
        )
        .orderBy("supp_nation")
    )


@register(
    "c_correlated_exists",
    oracle="""
SELECT c_mktsegment,
  CAST(count(*) AS BIGINT) AS n_customers,
  CAST(sum(CASE WHEN EXISTS (
    SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 150000
  ) THEN 1 ELSE 0 END) AS BIGINT) AS n_big_spenders,
  CAST(sum(CASE WHEN NOT EXISTS (
    SELECT 1 FROM orders WHERE o_custkey = c_custkey
  ) THEN 1 ELSE 0 END) AS BIGINT) AS n_never_ordered
FROM customer
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
    tags=("C4", "C5", "B6"),
)
def c_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS inside a projection — the SQL
    surface for existence tests that aren't top-level semi-joins.
    Catalyst decorrelates both subqueries into ExistenceJoin variants
    over one pass of orders each; neither becomes a per-customer loop.

    Counts per segment: how many customers have at least one >150k
    order, and how many never ordered at all — the inclusion/exclusion
    pair c_semi_join / c_anti_join express as DataFrame ops, here
    written as the correlated-subquery dialect users actually type.
    """
    register_views(spark, sf_dir)
    return spark.sql("""
SELECT c_mktsegment,
  CAST(count(*) AS BIGINT) AS n_customers,
  CAST(sum(CASE WHEN EXISTS (
    SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 150000
  ) THEN 1 ELSE 0 END) AS BIGINT) AS n_big_spenders,
  CAST(sum(CASE WHEN NOT EXISTS (
    SELECT 1 FROM orders WHERE o_custkey = c_custkey
  ) THEN 1 ELSE 0 END) AS BIGINT) AS n_never_ordered
FROM customer
GROUP BY c_mktsegment ORDER BY c_mktsegment
""")


@register(
    "c_bloom_pruned_join",
    oracle="""
SELECT o.o_orderpriority,
  CAST(count(*) AS BIGINT)                                   AS n_lines,
  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                                                             AS revenue_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'F' AND o.o_totalprice > 250000
GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
""",
    tags=("C1", "C9"),
)
def c_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The runtime-bloom-filter join shape: a big fact (lineitem)
    shuffle-joined to a selectively-filtered build side (orders with a
    non-key predicate). With `spark.sql.optimizer.runtime.bloomFilter`
    thresholds met, Catalyst injects `might_contain(bloom)` on the
    fact's scan so rows that cannot join are dropped BEFORE the
    shuffle — at 100 TB that converts a full-fact shuffle into a
    selectivity-proportional one.

    Deliberately hint-free: a join hint wraps the creation side in a
    ResolvedHint node that defeats InjectRuntimeFilter's
    filter-over-scan pattern match (measured — `might_contain` never
    appears with MERGE hinted on either side). So at this SF AQE
    broadcasts the filtered dim (also correct, also pinned), and
    tests/test_plans_widen9.py proves the 100 TB regime — broadcast
    off, application threshold cleared — yields SortMergeJoin plus the
    `might_contain` injection on this exact query.

    Semantics are a plain filtered equi-join rollup, so the oracle is
    straight SQL — the bloom filter is a pure pruning optimization
    with no result effect.
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 250000)
    )
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(cents).alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "c_fraud_dup_invoices",
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_custkey, o_orderdate,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
pairs AS (
  SELECT a.o_custkey,
         datediff('day', a.o_orderdate, b.o_orderdate) AS gap_days
  FROM o a JOIN o b
    ON a.o_custkey = b.o_custkey AND a.cents = b.cents
   AND a.o_orderkey < b.o_orderkey
  WHERE abs(datediff('day', a.o_orderdate, b.o_orderdate)) <= 30
)
SELECT
  CAST(count(*) AS BIGINT)                  AS n_pairs,
  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
  CAST(min(abs(gap_days)) AS BIGINT)        AS min_gap,
  CAST(max(abs(gap_days)) AS BIGINT)        AS max_gap
FROM pairs
""",
    tags=("C7", "C1", "B3"),
)
def c_fraud_dup_invoices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-invoice detection: two orders from the same customer
    for the EXACT same amount within 30 days — the standard
    double-billing / replay screen. The join is blocked on
    (customer, amount-cents) — an equi-join whose collision classes
    are tiny by construction — with the date band as a cheap residual;
    never a cross join, never a date-range join over the full fact.
    o_orderkey < o_orderkey dedups the symmetric pair.

    At 100 TB the same blocking holds: amount-exact collisions per
    customer stay small no matter the corpus, which is what makes
    exact-amount screens run where fuzzy-amount ones need LSH.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    a = o.alias("a")
    b = o.alias("b")
    gap = F.datediff(F.col("b.o_orderdate"), F.col("a.o_orderdate"))
    pairs = (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.cents") == F.col("b.cents"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .filter(F.abs(gap) <= 30)
        .select(F.col("a.o_custkey").alias("o_custkey"), gap.alias("gap_days"))
    )
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.min(F.abs("gap_days")).alias("min_gap"),
        F.max(F.abs("gap_days")).alias("max_gap"),
    )


_MAX_HOPS = 8

# The nation trade graph: each nation's top-3 export destinations by
# revenue. business.q_graph_degree_profile reads the same edges.
_EDGE_SQL = """
rev AS (
  SELECT sn.n_name AS src, cn.n_name AS dst,
    CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
  JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
  WHERE sn.n_name <> cn.n_name
  GROUP BY sn.n_name, cn.n_name
),
edges AS (
  SELECT src, dst FROM (
    SELECT src, dst,
      row_number() OVER (PARTITION BY src ORDER BY cents DESC, dst) AS rk
    FROM rev
  ) WHERE rk <= 3
)
"""


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3-per-source directed nation trade edges (src, dst)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    rev = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(maybe_broadcast(s, sf_dir, "supplier"), l.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("dst"))),
            c.c_nationkey == F.col("ck"),
        )
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("src"))),
            s.s_nationkey == F.col("sk"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum(cents).alias("cents"))
    )
    rk = F.row_number().over(Window.partitionBy("src").orderBy(F.desc("cents"), "dst"))
    return rev.withColumn("rk", rk).filter(F.col("rk") <= 3).select("src", "dst")


def _bfs_closure_rows(
    edge_rows: list[tuple[str, str]],
) -> list[tuple[str, str, int]]:
    """(src, dst, hops) min-hop pairs reachable within _MAX_HOPS,
    src ≠ dst — computed DRIVER-SIDE over the already-collected edge
    list (round-11 optimization, guide §1.2 "the distributed
    algorithm" / §5 "the driver should do almost no data work" read
    together: here there IS no data work — the graph is schema-bounded
    to ≤25 nations / ≤75 edges at every SF, and the edges were already
    on the driver for the local-relation rebuild). The previous
    Spark-loop form (semi-naive frontier join + anti-join + two
    localCheckpoints + isEmpty per round) paid ~25 scheduler
    round-trips of pure fixed overhead per call — 7.8 s Spark-only at
    sf0.01, the single most expensive entry in the registry — to
    traverse a graph smaller than one shuffle block. Level-synchronous
    BFS here is the identical algebra: round k extends only the newest
    frontier by one edge hop, excludes returns to the source, and
    first-visit order IS min-hops."""
    adj: dict[str, list[str]] = {}
    for s, d in edge_rows:
        adj.setdefault(s, []).append(d)
    out: list[tuple[str, str, int]] = []
    for s in adj:
        dist = {s: 0}
        frontier = [s]
        for hop in range(1, _MAX_HOPS + 1):
            nxt: list[str] = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v != s and v not in dist:
                        dist[v] = hop
                        nxt.append(v)
            if not nxt:
                break
            frontier = nxt
        out.extend((s, d, h) for d, h in dist.items() if h > 0)
    return out


@register(
    "c_transitive_closure",
    oracle=f"""
WITH {_EDGE_SQL},
r1 AS (SELECT src, dst, 1 AS hops FROM edges),
r2 AS (
  SELECT src, dst, min(hops) AS hops FROM (
    SELECT * FROM r1
    UNION ALL
    SELECT r.src, e.dst, r.hops + 1
    FROM r1 r JOIN edges e ON r.dst = e.src AND e.dst <> r.src
    WHERE r.hops = 1
  ) GROUP BY src, dst
),
r3 AS (
  SELECT src, dst, min(hops) AS hops FROM (
    SELECT * FROM r2
    UNION ALL
    SELECT r.src, e.dst, r.hops + 1
    FROM r2 r JOIN edges e ON r.dst = e.src AND e.dst <> r.src
    WHERE r.hops = 2
  ) GROUP BY src, dst
),
r4 AS (
  SELECT src, dst, min(hops) AS hops FROM (
    SELECT * FROM r3
    UNION ALL
    SELECT r.src, e.dst, r.hops + 1
    FROM r3 r JOIN edges e ON r.dst = e.src AND e.dst <> r.src
    WHERE r.hops = 3
  ) GROUP BY src, dst
),
r5 AS (
  SELECT src, dst, min(hops) AS hops FROM (
    SELECT * FROM r4
    UNION ALL
    SELECT r.src, e.dst, r.hops + 1
    FROM r4 r JOIN edges e ON r.dst = e.src AND e.dst <> r.src
    WHERE r.hops = 4
  ) GROUP BY src, dst
),
r6 AS (
  SELECT src, dst, min(hops) AS hops FROM (
    SELECT * FROM r5
    UNION ALL
    SELECT r.src, e.dst, r.hops + 1
    FROM r5 r JOIN edges e ON r.dst = e.src AND e.dst <> r.src
    WHERE r.hops = 5
  ) GROUP BY src, dst
),
r7 AS (
  SELECT src, dst, min(hops) AS hops FROM (
    SELECT * FROM r6
    UNION ALL
    SELECT r.src, e.dst, r.hops + 1
    FROM r6 r JOIN edges e ON r.dst = e.src AND e.dst <> r.src
    WHERE r.hops = 6
  ) GROUP BY src, dst
),
r8 AS (
  SELECT src, dst, min(hops) AS hops FROM (
    SELECT * FROM r7
    UNION ALL
    SELECT r.src, e.dst, r.hops + 1
    FROM r7 r JOIN edges e ON r.dst = e.src AND e.dst <> r.src
    WHERE r.hops = 7
  ) GROUP BY src, dst
)
SELECT src, CAST(count(*) AS BIGINT) AS n_reach,
  CAST(min(hops) AS BIGINT) AS min_hops,
  CAST(max(hops) AS BIGINT) AS ecc,
  CAST(sum(hops) AS BIGINT) AS sum_hops
FROM r8 GROUP BY src ORDER BY src
""",
    tags=("C1", "D1", "J19"),
)
def c_transitive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded transitive closure with min-hop distances over the
    top-3 trade graph — reachability ("which markets can goods reach
    in ≤k intermediated hops") plus per-source eccentricity. Spark
    side computes the edge list in ONE Spark job (the 5-way join —
    the only scale-bound stage), collects the ≤75 schema-bounded
    edges, and runs the level-synchronous BFS driver-side
    (_bfs_closure_rows); the closure comes back as a local relation
    for the final agg. The oracle unrolls the same recurrence through
    8 CTE levels — both sides bound hops at 8, so equality is over
    identical algebra (fixpoint lands well below the bound on a
    25-node graph; early termination vs full unroll can't diverge
    because exhausted frontiers generate no new pairs).
    """
    edge_rows = [
        (r["src"], r["dst"]) for r in _trade_edges(spark, sf_dir).collect()
    ]
    closure = local_df(
        spark, _bfs_closure_rows(edge_rows), "src string, dst string, hops int"
    )
    return (
        closure.groupBy("src")
        .agg(
            F.count("*").alias("n_reach"),
            F.min("hops").cast("long").alias("min_hops"),
            F.max("hops").cast("long").alias("ecc"),
            F.sum("hops").alias("sum_hops"),
        )
        .orderBy("src")
    )


@register(
    "c_scd2_point_in_time",
    oracle="""
WITH versions AS (
  SELECT c_custkey, c_mktsegment AS segment,
    TIMESTAMP '1990-01-01' AS valid_from,
    CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '1997-06-01' END AS valid_to
  FROM customer
  UNION ALL
  SELECT c_custkey, 'MIGRATED-' || c_mktsegment AS segment,
    TIMESTAMP '1997-06-01' AS valid_from, NULL AS valid_to
  FROM customer WHERE c_custkey % 3 = 0
),
pit AS (
  SELECT o.o_orderkey, v.segment,
    CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders o JOIN versions v
    ON o.o_custkey = v.c_custkey
   AND o.o_orderdate >= v.valid_from
   AND (v.valid_to IS NULL OR o.o_orderdate < v.valid_to)
)
SELECT segment,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(cents) AS BIGINT) AS cents
FROM pit GROUP BY segment ORDER BY segment
""",
    tags=("C7", "C8", "L"),
)
def c_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against an effective-dated SCD type-2
    dimension: every fact row joins the dimension VERSION that was
    valid on its transaction date (valid_from ≤ date < valid_to,
    open-ended current rows) — the query shape every
    as-reported-vs-as-restated audit runs. The version table here is
    built in-plan (each 3rd customer re-segments mid-1997, the
    etl_scd2_merge shape) so the entry is self-contained.

    Scale: the join is an EQUI-join on the business key with the
    interval predicate as a residual — per-key version counts are
    tiny (≤2 here, rarely >10 in practice), so the residual never
    multiplies; the dimension side broadcasts. Every fact row matches
    EXACTLY one version (intervals partition the timeline), which the
    oracle's row count re-proves.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    mig = F.col("c_custkey") % 3 == 0
    split = F.lit("1997-06-01").cast("timestamp")
    v1 = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1990-01-01").cast("timestamp").alias("valid_from"),
        F.when(mig, split).alias("valid_to"),
    )
    v2 = c.filter(mig).select(
        "c_custkey",
        F.concat(F.lit("MIGRATED-"), F.col("c_mktsegment")).alias("segment"),
        split.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    versions = v1.unionByName(v2)
    pit = o.join(
        maybe_broadcast(versions, sf_dir, "customer"),
        (o.o_custkey == versions.c_custkey)
        & (o.o_orderdate >= versions.valid_from)
        & (versions.valid_to.isNull() | (o.o_orderdate < versions.valid_to)),
    )
    return (
        pit.groupBy("segment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"),
        )
        .orderBy("segment")
    )


@register(
    "c_bitemporal_asof",
    oracle="""
WITH versions AS (
  SELECT p_partkey,
    CAST(round(p_retailprice * 1000, 0) AS BIGINT) AS price_milli,
    TIMESTAMP '1990-01-01' AS valid_from,
    TIMESTAMP '1996-01-01' AS known_from
  FROM part
  UNION ALL
  SELECT p_partkey,
    CAST(round(p_retailprice * 1000, 0) AS BIGINT) * 11 // 10,
    TIMESTAMP '1997-06-01', TIMESTAMP '1997-08-01'
  FROM part
),
lines AS (
  SELECT row_number() OVER () AS rid, l_partkey, l_shipdate FROM lineitem
),
picked AS (
  SELECT l.rid, year(l.l_shipdate) AS yr, v.price_milli,
    row_number() OVER (PARTITION BY l.rid ORDER BY v.valid_from DESC) AS rn
  FROM lines l JOIN versions v
    ON l.l_partkey = v.p_partkey
   AND v.valid_from <= l.l_shipdate
   AND v.known_from <= l.l_shipdate
)
SELECT CAST(yr AS BIGINT) AS yr,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(sum(price_milli) AS BIGINT) AS applied_milli
FROM picked WHERE rn = 1
GROUP BY yr ORDER BY yr
""",
    tags=("C8", "C7", "L"),
)
def c_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL as-of: each fact picks the price version that was
    both EFFECTIVE on its ship date (valid time) and ALREADY KNOWN
    then (transaction time) — the two-axis lookup behind
    as-reported restatement audits. The mid-1997 +10% reprice is
    recorded two months late, so facts shipped in the gap correctly
    apply the OLD price even though the new one was retroactively
    effective — exactly what a naive (valid-time-only, c_scd2_
    point_in_time) lookup gets wrong. Equi-join on the part key with
    both interval predicates as residuals; latest-valid version wins
    via one row_number pick.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    milli = F.round(F.col("p_retailprice") * 1000, 0).cast("long")
    v1 = p.select(
        "p_partkey",
        milli.alias("price_milli"),
        F.lit("1990-01-01").cast("timestamp").alias("valid_from"),
        F.lit("1996-01-01").cast("timestamp").alias("known_from"),
    )
    v2 = p.select(
        "p_partkey",
        F.expr("cast(round(p_retailprice * 1000, 0) as bigint) * 11 div 10").alias("price_milli"),
        F.lit("1997-06-01").cast("timestamp").alias("valid_from"),
        F.lit("1997-08-01").cast("timestamp").alias("known_from"),
    )
    versions = v1.unionByName(v2)
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic
    # fixture (measured: 25 duplicate keys at sf0.001) — the per-line
    # pick needs a genuinely unique row id. Engine-LOCAL uniqueness
    # suffices (the output aggregates over picked rows), so a
    # monotonic id here and row_number() OVER () in the oracle are
    # equivalent.
    lines = l.select(
        F.monotonically_increasing_id().alias("rid"), "l_partkey", "l_shipdate"
    )
    joined = lines.join(
        maybe_broadcast(versions, sf_dir, "part"),
        (lines.l_partkey == versions.p_partkey)
        & (versions.valid_from <= lines.l_shipdate)
        & (versions.known_from <= lines.l_shipdate),
    )
    w = Window.partitionBy("rid").orderBy(F.desc("valid_from"))
    picked = joined.select(
        F.year("l_shipdate").alias("yr"),
        "price_milli",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") == 1)
    return (
        picked.groupBy(F.col("yr").cast("long").alias("yr"))
        .agg(F.count("*").alias("n_lines"), F.sum("price_milli").alias("applied_milli"))
        .orderBy("yr")
    )


@register(
    "c_drill_across",
    oracle="""
WITH sales AS (
  SELECT epoch_us(o_orderdate) // 86400000000 AS day_id,
    CAST(count(*) AS BIGINT) AS n_orders,
    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sales_cents
  FROM orders WHERE year(o_orderdate) = 1998 GROUP BY day_id
),
activity AS (
  SELECT epoch_us(ts) // 86400000000 AS day_id,
    CAST(count(*) AS BIGINT) AS n_events,
    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM events GROUP BY day_id
),
bounds AS (
  SELECT least(coalesce((SELECT min(day_id) FROM sales), 9223372036854775807),
               coalesce((SELECT min(day_id) FROM activity), 9223372036854775807)) AS lo,
         greatest(coalesce((SELECT max(day_id) FROM sales), -9223372036854775808),
                  coalesce((SELECT max(day_id) FROM activity), -9223372036854775808)) AS hi
),
date_dim AS (
  SELECT unnest(generate_series(lo, hi)) AS day_id FROM bounds
)
SELECT CAST(d.day_id AS BIGINT) AS day_id,
  CAST(coalesce(s.n_orders, 0) AS BIGINT) AS n_orders,
  CAST(coalesce(s.sales_cents, 0) AS BIGINT) AS sales_cents,
  CAST(coalesce(a.n_events, 0) AS BIGINT) AS n_events,
  CAST(coalesce(a.n_users, 0) AS BIGINT) AS n_users
FROM date_dim d
LEFT JOIN sales s ON d.day_id = s.day_id
LEFT JOIN activity a ON d.day_id = a.day_id
WHERE s.day_id IS NOT NULL OR a.day_id IS NOT NULL
ORDER BY day_id
""",
    tags=("C2", "D1", "H2"),
)
def c_drill_across(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drill-across: TWO fact tables (1998 orders; events) reconciled
    through a conformed date dimension — each fact aggregates to the
    conformed grain FIRST, then the summaries outer-join on the
    dimension key. This is the multi-fact pattern (never join facts
    row-to-row: grains differ and the join would fan out); the date
    spine densifies from the observed bounds, and days absent from
    both facts are pruned so the output matches the active calendar.
    Zero-filled metrics keep the row a complete scorecard.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1998)
    e = load_table(spark, sf_dir, "events")
    sales = (
        o.select(
            epoch_us("o_orderdate").alias("ous"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
        .select(F.expr("ous div 86400000000").alias("day_id"), "cents")
        .groupBy("day_id")
        .agg(F.count("*").alias("n_orders"), F.sum("cents").alias("sales_cents"))
    )
    activity = (
        e.select(epoch_us("ts").alias("us"), "user_id")
        .select(F.expr("us div 86400000000").alias("day_id"), "user_id")
        .groupBy("day_id")
        .agg(F.count("*").alias("n_events"), F.countDistinct("user_id").alias("n_users"))
    )
    bounds = (
        sales.select("day_id")
        .unionByName(activity.select("day_id"))
        .agg(F.min("day_id").alias("lo"), F.max("day_id").alias("hi"))
    )
    date_dim = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day_id")
    )
    out = (
        date_dim.join(sales, "day_id", "left")
        .join(activity, "day_id", "left")
        .filter(F.col("n_orders").isNotNull() | F.col("n_events").isNotNull())
        .select(
            F.col("day_id").cast("long").alias("day_id"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("sales_cents", F.lit(0)).alias("sales_cents"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("n_users", F.lit(0)).alias("n_users"),
        )
        .orderBy("day_id")
    )
    return out


@register(
    "c_join_fanout_audit",
    oracle="""
WITH pre AS (
  SELECT CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_left,
         CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_right
),
fan AS (
  SELECT o.o_orderkey, CAST(count(l.l_orderkey) AS BIGINT) AS k
  FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey
)
SELECT
  pre.n_left, pre.n_right,
  CAST(sum(k) AS BIGINT) AS n_joined,
  CAST(max(k) AS BIGINT) AS max_fanout,
  CAST(sum(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched_left,
  CAST(sum(k) * 1000 // pre.n_left AS BIGINT) AS avg_fanout_milli
FROM fan CROSS JOIN pre
GROUP BY pre.n_left, pre.n_right
""",
    tags=("C1", "C2", "D1"),
)
def c_join_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-fanout audit: before trusting any fact-to-fact join, a
    pipeline measures what the join DOES to cardinality — output
    rows, max per-key multiplicity (the blow-up bound), unmatched
    keys (silent data loss under an inner join), and the average
    fanout. Computed from per-key counts on one shuffle rather than
    materializing the join twice; the three scalar inputs broadcast.
    This is the debugging query behind every 'why did my row count
    explode' incident.
    """
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    pre = o.agg(F.count("*").alias("n_left")).crossJoin(
        F.broadcast(l.agg(F.count("*").alias("n_right")))
    )
    fan = (
        o.select("o_orderkey")
        .join(l.select(F.col("l_orderkey").alias("ok")), o.o_orderkey == F.col("ok"), "left")
        .groupBy("o_orderkey")
        .agg(F.count("ok").alias("k"))
    )
    return (
        fan.crossJoin(F.broadcast(pre))
        .groupBy("n_left", "n_right")
        .agg(
            F.sum("k").alias("n_joined"),
            F.max("k").alias("max_fanout"),
            F.sum(F.when(F.col("k") == 0, 1).otherwise(0)).alias("n_unmatched_left"),
            F.expr("sum(k) * 1000 div max(n_left)").alias("avg_fanout_milli"),
        )
        .select(
            "n_left", "n_right", "n_joined", "max_fanout",
            "n_unmatched_left", "avg_fanout_milli",
        )
    )


@register(
    "c_asof_forward",
    oracle="""
WITH rates AS (
  SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS rts,
    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS day_cents
  FROM events WHERE day(CAST(ts AS TIMESTAMP)) % 3 = 0
  GROUP BY event_type, rts
)
SELECT e.event_type, CAST(count(*) AS BIGINT) AS cnt,
  CAST(sum(r.day_cents) AS BIGINT) AS sum_next_cents
FROM (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events) e
ASOF JOIN rates r ON e.event_type = r.event_type AND e.ts <= r.rts
GROUP BY e.event_type ORDER BY e.event_type
""",
    tags=("C8", "E2"),
)
def c_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: each event attaches the NEXT daily summary row
    at-or-after its timestamp (every-3rd-day summaries, same series
    as c_asof_join but mirrored) — the "next scheduled revision /
    next maintenance window" lookup that backward as-of cannot
    express. Runs through the same single-shuffle union+window
    operator with `direction='forward'` (time walked in reverse so
    running-last becomes earliest-at-or-after); DuckDB's native ASOF
    with the inequality flipped (e.ts <= r.rts) is the oracle.
    Events after the final summary drop under how='inner' on both
    engines; the payload is integer day-cents so sums are exact.
    """
    e = load_table(spark, sf_dir, "events")
    rates = (
        e.filter(F.dayofmonth("ts") % 3 == 0)
        .groupBy(
            "event_type", F.date_trunc("day", "ts").alias("rts")
        )
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("day_cents"))
    )
    probes = e.select("event_type", "ts")
    joined = asof_join(
        probes,
        rates,
        on=["event_type"],
        left_time="ts",
        right_time="rts",
        payload=["day_cents"],
        how="inner",
        direction="forward",
    )
    return (
        joined.groupBy("event_type")
        .agg(F.count("*").alias("cnt"), F.sum("day_cents").alias("sum_next_cents"))
        .orderBy("event_type")
    )


@register(
    "c_range_join_binned",
    oracle="""
WITH p AS (
  SELECT epoch_us(ts) AS us, event_type AS ptype
  FROM events WHERE event_type = 'purchase'
),
iv AS (
  SELECT event_type AS wtype,
    min(epoch_us(ts)) AS st,
    max(epoch_us(ts)) + 1 AS en
  FROM events WHERE event_type <> 'purchase'
  GROUP BY event_type, CAST(ts AS DATE)
)
SELECT wtype,
  CAST(count(*) AS BIGINT) AS contained_pairs,
  CAST(count(DISTINCT us) AS BIGINT) AS distinct_purchases
FROM p JOIN iv ON p.us >= iv.st AND p.us < iv.en
GROUP BY wtype ORDER BY wtype
""",
    tags=("C7", "C1"),
)
def c_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-×-large range join WITHOUT an equality key: every purchase
    moment joined to every same-day activity window of the other event
    types that contains it. The broadcast-nested-loop shape
    (c_range_join) is impossible at scale when both sides grow, so the
    interval is exploded into the hour bins it covers and the join runs
    as a plain hash equi-join on the bin, with containment as a
    residual filter — see operators/rangejoin.py for the cost model.
    Each (point, interval) pair qualifies in exactly one bin (a point
    has one bin), so the result needs no dedup. Oracle is the direct
    theta join — feasible at gate scale, and proving the binned
    rewrite exactly preserves the pair set."""
    e = load_table(spark, sf_dir, "events")
    points = e.filter(F.col("event_type") == "purchase").select(
        epoch_us("ts").alias("us")
    )
    iv = (
        e.filter(F.col("event_type") != "purchase")
        .groupBy(
            F.col("event_type").alias("wtype"), F.to_date("ts").alias("d")
        )
        .agg(
            epoch_us(F.min("ts")).alias("st"),
            (epoch_us(F.max("ts")) + 1).alias("en"),
        )
        .drop("d")
    )
    hour_us = 3_600_000_000
    joined = range_join_binned(points, "us", iv, "st", "en", hour_us)
    return (
        joined.groupBy("wtype")
        .agg(
            F.count("*").alias("contained_pairs"),
            F.countDistinct("us").alias("distinct_purchases"),
        )
        .orderBy("wtype")
    )


@register(
    "c_denormalize_obt",
    oracle="""
WITH obt AS (
  SELECT l.l_orderkey, l.l_linenumber,
    CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)
      AS rev_cents,
    o.o_orderpriority, c.c_mktsegment, s.s_nationkey, r.r_name AS region
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
)
SELECT region, c_mktsegment AS segment,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(sum(rev_cents) AS BIGINT) AS rev_cents
FROM obt GROUP BY region, segment ORDER BY region, segment
""",
    tags=("C1", "C3", "L"),
)
def c_denormalize_obt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-big-table denormalization: the star schema flattened into a
    single wide fact (every dim joined in — the layout BI warehouses
    materialize to kill join cost at query time), then aggregated at
    (region, segment) grain. All four dims broadcast; the fact
    shuffles ONCE for the final rollup. The oracle computes the same
    rollup from the normalized schema — proving the denormalized
    table answers exactly like the star it came from (the parity a
    warehouse must re-verify after every OBT rebuild)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    obt = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(maybe_broadcast(c, sf_dir, "customer"), o["o_custkey"] == c["c_custkey"])
        .join(maybe_broadcast(s, sf_dir, "supplier"), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
            )
            .cast("long")
            .alias("rev_cents"),
            F.col("r_name").alias("region"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    return (
        obt.groupBy("region", "segment")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("rev_cents").alias("rev_cents"),
        )
        .orderBy("region", "segment")
    )


@register(
    "c_asof_nearest",
    oracle="""
WITH p AS (
  SELECT event_id AS pid, user_id, epoch_us(ts) AS pus
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
),
c AS (
  SELECT user_id, epoch_us(ts) AS cus, event_id AS cid
  FROM events WHERE event_type = 'click' AND ts IS NOT NULL
),
cand AS (
  SELECT p.pid, p.pus, c.cus, c.cid,
    abs(p.pus - c.cus) AS dist,
    row_number() OVER (PARTITION BY p.pid
                       ORDER BY abs(p.pus - c.cus), c.cus, c.cid) AS rn
  FROM p JOIN c ON p.user_id = c.user_id
)
SELECT
  CAST(count(*) AS BIGINT) AS n_matched,
  CAST(sum(dist) AS BIGINT) AS total_dist_us,
  CAST(max(dist) AS BIGINT) AS max_dist_us,
  CAST(count(*) FILTER (WHERE cus <= pus) AS BIGINT) AS n_backward
FROM cand WHERE rn = 1
""",
    tags=("C8", "E1"),
)
def c_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join — the variant backward/forward
    can't express: each purchase matches its temporally CLOSEST click
    (either side), ties broken toward the earlier click then by id.
    Implementation is the per-user equi-join + argmin window (the
    shuffle key bounds candidates to one user's events — never a time
    cross-product); pandas merge_asof(direction='nearest') is the
    single-node analogue. Emits the matched-pair census and how often
    the nearest click was in the past (backward share) — at 100 TB
    the same plan holds because the window partitions by the purchase
    id after a user-key shuffle."""
    # an as-of match needs a real event time on BOTH sides: NULL-ts
    # rows dropped (both engine and oracle)
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        epoch_us("ts").alias("pus"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id",
        epoch_us("ts").alias("cus"),
        F.col("event_id").alias("cid"),
    )
    cand = p.join(c, "user_id").select(
        "pid",
        "pus",
        "cus",
        "cid",
        F.abs(F.col("pus") - F.col("cus")).alias("dist"),
    )
    w = Window.partitionBy("pid").orderBy("dist", "cus", "cid")
    best = cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return best.agg(
        F.count("*").alias("n_matched"),
        F.sum("dist").alias("total_dist_us"),
        F.max("dist").alias("max_dist_us"),
        F.count(F.when(F.col("cus") <= F.col("pus"), 1)).alias("n_backward"),
    )
