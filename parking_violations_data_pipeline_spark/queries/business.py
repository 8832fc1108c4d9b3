"""Q-family analytic queries over the TPC-H tables: pricing, supply-chain,
customer-cohort and market reports, and the nation trade graph. The
Q-family entries over the event stream are in analytics.py; those over
the document corpus are in text.py.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table, maybe_broadcast
from parking_violations_data_pipeline_spark.functions.localrel import local_df
from parking_violations_data_pipeline_spark.functions.timeutil import epoch_us
from parking_violations_data_pipeline_spark.queries.joins import _EDGE_SQL, _trade_edges
from parking_violations_data_pipeline_spark.registry import register


@register(
    "q_median_order_gap",
    oracle="""
WITH g AS (
  SELECT o_custkey,
         date_diff('day',
           CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey) AS DATE),
           CAST(o_orderdate AS DATE)) AS gap
  FROM orders
)
SELECT c_mktsegment,
  CAST(count(gap) AS BIGINT)            AS n_gaps,
  round(CAST(median(gap) AS DOUBLE), 1) AS med_gap,
  round(avg(gap), 2)                    AS avg_gap
FROM g JOIN customer ON c_custkey = o_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
    tags=("E2", "D5", "C1"),
)
def q_median_order_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median inter-order gap (days) per market segment — the
    repurchase-cadence metric behind churn models.

    One shuffle on o_custkey drives the lag window; the customer dim
    is broadcast; the segment rollup reuses nothing bigger than the
    gap column. Spark's median() and DuckDB's median() both
    interpolate (percentile_cont semantics), so even-count groups
    agree exactly. Date arithmetic happens at DATE grain on both
    sides — timestamps would drag timezone semantics into a pure
    day-count question.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag("o_orderdate").over(w).cast("date"),
        ).alias("gap"),
    )
    return (
        g.join(maybe_broadcast(c.select("c_custkey", "c_mktsegment"), sf_dir, "customer"),
               g.o_custkey == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("gap").alias("n_gaps"),
            F.round(F.median("gap").cast("double"), 1).alias("med_gap"),
            F.round(F.avg("gap"), 2).alias("avg_gap"),
        )
        .orderBy("c_mktsegment")
    )


_PR_ITERS = 10


def _pagerank_oracle() -> str:
    """Unrolled 10-iteration integer PageRank: the recursive term
    needs aggregation (banned/fragile inside RECURSIVE CTEs), so the
    oracle chains pr0..pr10 explicitly — same algebra as the Spark
    loop, iteration by iteration."""
    steps = []
    for i in range(_PR_ITERS):
        steps.append(f"""
pr{i + 1} AS (
  SELECT n.nation,
    150000 + (85 * coalesce(c.contrib, 0)) // 100 AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS nation,
           CAST(sum((p.r * e.w) // e.out_w) AS BIGINT) AS contrib
    FROM edges e JOIN pr{i} p ON p.nation = e.src
    GROUP BY e.dst
  ) c ON c.nation = n.nation
)""")
    return f"""
WITH rev AS (
  SELECT ns.n_name AS src, nc.n_name AS dst,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  GROUP BY ns.n_name, nc.n_name
),
edges_raw AS (
  SELECT src, dst, cents // 100000 AS w FROM rev WHERE cents // 100000 > 0
),
out_tot AS (
  SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM edges_raw GROUP BY src
),
edges AS (
  SELECT e.src, e.dst, e.w, o.out_w FROM edges_raw e JOIN out_tot o ON e.src = o.src
),
nodes AS (
  SELECT src AS nation FROM edges_raw UNION SELECT dst FROM edges_raw
),
pr0 AS (
  SELECT nation, CAST(1000000 AS BIGINT) AS r FROM nodes
),{",".join(steps)}
SELECT nation, CAST(r AS BIGINT) AS rank_micro
FROM pr{_PR_ITERS} ORDER BY rank_micro DESC, nation
"""


@register("q_trade_pagerank", oracle=_pagerank_oracle(), tags=("C1", "D1", "J10"))
def q_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation-level trade graph (supplier nation →
    customer nation, edge weight = revenue): which markets sit at the
    center of the flow network. The expensive, scale-bound stage is
    building the edge list — a 5-way join aggregated to nation² grain
    (625 rows max); the iteration then runs over a graph whose size is
    bounded by geography, not data volume, with each step one
    broadcast join + aggregation.

    Determinism across 10 iterations: ranks live in integer
    micro-units with floor-division transitions (contrib = r·w //
    out_w; damping = 150000 + 85·Σ//100), so every iteration is
    bit-exact on both engines — a double formulation would compound
    summation-order ulps per iteration. Simplified PR (dangling mass
    not redistributed), identical on both sides.
    """
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
        .groupBy("src", "dst")
        .agg(F.sum(cents).alias("cents"))
    )
    edges_raw = rev.select(
        "src", "dst", F.expr("cents div 100000").alias("w")
    ).filter(F.col("w") > 0)
    out_tot = edges_raw.groupBy("src").agg(F.sum("w").alias("out_w"))
    # Materialize the graph to LOCAL relations: bounded by SCHEMA
    # (nation x nation edges, 25 nations at every SF → ≤ 600 edge
    # rows / 25 node rows even at 100 TB), so one Spark job + a
    # driver-side rebuild replaces the previous persist() pair, which
    # left pinned storage blocks behind for the session lifetime (a
    # 477-entry session accumulated enough retained blocks to starve a
    # later sort of execution memory). The power-iteration loop now
    # joins against broadcast-sized local relations.
    edges_dist = edges_raw.join(out_tot, "src")
    erows = edges_dist.collect()
    # node set derives from the already-collected edges (the out_tot
    # join is inner on src but drops nothing: every src appears in
    # out_tot by construction) — no second scan of the fact tables.
    #
    # Round-11 optimization (guide §1.2): the power iteration itself
    # runs DRIVER-SIDE over the collected edges. The previous form
    # left the loop as a lazily-built 10-level join/agg tree over
    # 32-partition local relations — one noop action then executed
    # ~30 shuffled stages (7.2 s Spark-only at sf0.01) to iterate a
    # graph bounded by SCHEMA at ≤600 edge rows. Python integer
    # arithmetic reproduces the exact same floor-division recurrence
    # (all values positive, so SQL `div` == Python `//`), so the
    # result is bit-identical; only the final ranking frame touches
    # Spark.
    names = sorted({r["src"] for r in erows} | {r["dst"] for r in erows})
    rank = {x: 1_000_000 for x in names}
    for _ in range(_PR_ITERS):
        contrib: dict[str, int] = {}
        for r in erows:
            c = (rank[r["src"]] * r["w"]) // r["out_w"]
            contrib[r["dst"]] = contrib.get(r["dst"], 0) + c
        rank = {x: 150_000 + (85 * contrib.get(x, 0)) // 100 for x in names}
    pr = local_df(
        spark, [(x, rank[x]) for x in names], "nation string, r long"
    )
    return pr.select(
        "nation", F.col("r").alias("rank_micro")
    ).orderBy(F.col("rank_micro").desc(), "nation")


@register(
    "q_cohort_ltv",
    oracle="""
WITH o AS (
  SELECT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
cohort AS (
  SELECT o_custkey, min(m) AS m0 FROM o GROUP BY o_custkey
),
rev AS (
  SELECT c.m0, o.m - c.m0 AS age,
         CAST(sum(o.cents) AS BIGINT) AS cents,
         CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active
  FROM o JOIN cohort c ON o.o_custkey = c.o_custkey
  GROUP BY c.m0, o.m - c.m0
),
sized AS (
  SELECT m0, CAST(count(*) AS BIGINT) AS cohort_size FROM cohort GROUP BY m0
)
SELECT r.m0 AS cohort_month, r.age, s.cohort_size, r.n_active,
  CAST(sum(r.cents) OVER (PARTITION BY r.m0 ORDER BY r.age
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                                                   AS ltv_cum_cents
FROM rev r JOIN sized s ON r.m0 = s.m0
ORDER BY cohort_month, age
""",
    tags=("E3", "D1", "C1"),
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: customers grouped by first-order month,
    revenue accumulated over cohort age — the curve that says how much
    a cohort is worth N months in (and whose flattening point sets the
    payback window). Months are exact integers (year·12+month), cents
    exact, the LTV accumulation a prefix sum over the tiny
    (cohort, age) grid — all the volume work happens in the first
    aggregation at (customer, month) co-partitioned grain.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    cohort = o.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    rev = (
        o.join(cohort, "o_custkey")
        .groupBy("m0", (F.col("m") - F.col("m0")).alias("age"))
        .agg(
            F.sum("cents").alias("cents"),
            F.countDistinct("o_custkey").alias("n_active"),
        )
    )
    sized = cohort.groupBy("m0").agg(F.count("*").alias("cohort_size"))
    w = W.partitionBy("m0").orderBy("age").rowsBetween(W.unboundedPreceding, 0)
    return (
        rev.join(sized, "m0")
        .select(
            F.col("m0").alias("cohort_month"),
            "age",
            "cohort_size",
            "n_active",
            F.sum("cents").over(w).alias("ltv_cum_cents"),
        )
        .orderBy("cohort_month", "age")
    )


@register(
    "q_basket_lift",
    oracle="""
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n_orders AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n FROM ob),
brand_n AS (SELECT brand, CAST(count(*) AS BIGINT) AS n_b FROM ob GROUP BY brand),
pair_n AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, CAST(count(*) AS BIGINT) AS n_ab
  FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
  GROUP BY a.brand, b.brand
)
SELECT brand_a, brand_b, n_ab,
  CAST(n_ab * 1000000 // na.n_b AS BIGINT)                    AS conf_ppm,
  CAST(n_ab * n_orders.n * 1000000 // (na.n_b * nb.n_b) AS BIGINT) AS lift_ppm
FROM pair_n
JOIN brand_n na ON pair_n.brand_a = na.brand
JOIN brand_n nb ON pair_n.brand_b = nb.brand
CROSS JOIN n_orders
ORDER BY lift_ppm DESC, brand_a, brand_b LIMIT 15
""",
    tags=("C1", "D1", "F3"),
)
def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining metrics over brand co-occurrence:
    support counts, confidence, and lift per brand pair. The pair
    blow-up is bounded per order (≤7 lineitems → ≤21 pairs), so the
    self-join on l_orderkey is linear in orders, never corpus²; the
    per-brand totals (≤25 rows) and the global order count broadcast
    back onto the pair table.

    Ratios live in integer ppm with floor division (n_ab·10⁶ // n_a)
    — engine-exact, no double rounding — and the top-15 is totally
    ordered by (lift_ppm, brand_a, brand_b).
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    ob = (
        l.join(maybe_broadcast(p.select("p_partkey", "p_brand"), sf_dir, "part"), l.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    n_orders = ob.select(F.countDistinct("okey").alias("n"))
    brand_n = ob.groupBy("brand").agg(F.count("*").alias("n_b"))
    a = ob.alias("a")
    b = ob.alias("b")
    pair_n = (
        a.join(b, (F.col("a.okey") == F.col("b.okey")) & (F.col("a.brand") < F.col("b.brand")))
        .groupBy(
            F.col("a.brand").alias("brand_a"), F.col("b.brand").alias("brand_b")
        )
        .agg(F.count("*").alias("n_ab"))
    )
    return (
        pair_n.join(
            F.broadcast(brand_n.select(F.col("brand").alias("brand_a"), F.col("n_b").alias("na"))),
            "brand_a",
        )
        .join(
            F.broadcast(brand_n.select(F.col("brand").alias("brand_b"), F.col("n_b").alias("nb"))),
            "brand_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.expr("n_ab * 1000000 div na").alias("conf_ppm"),
            F.expr("n_ab * n * 1000000 div (na * nb)").alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "brand_a", "brand_b")
        .limit(15)
    )


def _trade_edges_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`_trade_edges` materialized to a LOCAL relation: one Spark job
    computes the edge list, the result is rebuilt via createDataFrame.

    Bounded by the graph SCHEMA, not the data: top-3 edges per source
    nation and the nation table is fixed at 25 rows at every SF, so
    this is ≤ 75 rows even at 100 TB. The previous idiom — persist()
    and reuse the cached frame across an iterative loop — left pinned
    storage blocks behind for the session lifetime (measured: a
    477-entry session accumulated enough retained blocks that a later
    sort got ZERO execution memory and died with UNABLE_TO_ACQUIRE_
    MEMORY). A local relation gives the loop a broadcast-sized input
    with nothing to unpersist."""
    edges = _trade_edges(spark, sf_dir)
    # local_df (round-11): the pyrdd local relation cost ~0.7 s of
    # Python-worker round trips PER ACTION over the ≤75-row graph;
    # the Arrow-backed single-partition frame executes JVM-only
    return local_df(spark, edges.collect(), edges.schema)


@register(
    "q_graph_degree_profile",
    oracle=f"""
WITH {_EDGE_SQL},
outs AS (SELECT src AS nation, CAST(count(*) AS BIGINT) AS out_deg FROM edges GROUP BY src),
ins  AS (SELECT dst AS nation, CAST(count(*) AS BIGINT) AS in_deg FROM edges GROUP BY dst),
mutual AS (
  SELECT e.src AS nation, CAST(count(*) AS BIGINT) AS n_mutual
  FROM edges e JOIN edges r ON e.src = r.dst AND e.dst = r.src
  GROUP BY e.src
)
SELECT coalesce(o.nation, i.nation) AS nation,
  CAST(coalesce(o.out_deg, 0) AS BIGINT) AS out_deg,
  CAST(coalesce(i.in_deg, 0) AS BIGINT)  AS in_deg,
  CAST(coalesce(m.n_mutual, 0) AS BIGINT) AS n_mutual
FROM outs o
FULL OUTER JOIN ins i ON o.nation = i.nation
LEFT JOIN mutual m ON coalesce(o.nation, i.nation) = m.nation
ORDER BY nation
""",
    tags=("C2", "D1", "J19"),
)
def q_graph_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree/reciprocity profile of the trade graph: out-degree
    (3 by construction — a structural self-check), in-degree (how
    many nations rank this one a top-3 destination: import
    centrality), and mutual-edge count (reciprocated trade links,
    the graph's reciprocity numerator). The mutual check is the
    classic edge ∩ reversed-edge self-join — an equi-join on both
    endpoints, never pairwise over nodes.
    """
    edges = _trade_edges_local(spark, sf_dir)
    outs = edges.groupBy(F.col("src").alias("nation")).agg(F.count("*").alias("out_deg"))
    ins = edges.groupBy(F.col("dst").alias("nation")).agg(F.count("*").alias("in_deg"))
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = (
        edges.join(rev, ["src", "dst"])
        .groupBy(F.col("src").alias("nation"))
        .agg(F.count("*").alias("n_mutual"))
    )
    return (
        outs.join(ins, "nation", "full_outer")
        .join(mutual, "nation", "left")
        .select(
            "nation",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            F.coalesce("n_mutual", F.lit(0)).alias("n_mutual"),
        )
        .orderBy("nation")
    )


@register(
    "q_prorata_monthly",
    oracle="""
WITH o AS (
  SELECT o_orderkey,
    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m0,
    CAST(1 + o_orderkey % 5 AS BIGINT) AS span,
    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
alloc AS (
  SELECT m0 + j AS m,
    cents // span + CASE WHEN j < cents % span THEN 1 ELSE 0 END AS a_cents
  FROM o, unnest(generate_series(0, span - 1)) AS t(j)
)
SELECT CAST(m AS BIGINT) AS month_idx,
  CAST(sum(a_cents) AS BIGINT) AS alloc_cents,
  CAST(count(*) AS BIGINT) AS n_slices
FROM alloc GROUP BY m ORDER BY m
""",
    tags=("H2", "D1", "L"),
)
def q_prorata_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-recognition calendarization: each order's total is
    spread pro-rata across its service period (1-5 months, derived
    deterministically from the order key) with LARGEST-REMAINDER
    integer allocation — month j gets cents//n plus one extra cent
    while j < cents%n — so per-order allocations sum back to the
    order total EXACTLY (no lost or invented cents, the invariant
    auditors actually check). Spark side is a pure map stage:
    sequence() + posexplode, no join; the only shuffle is the final
    month rollup. At 100 TB the explode factor is bounded (≤5×) and
    partial aggregation absorbs it map-side.
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m0"),
        (1 + F.col("o_orderkey") % 5).alias("span"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    alloc = base.select(
        "m0",
        "cents",
        "span",
        F.posexplode(F.sequence(F.lit(0), F.col("span") - 1)).alias("j", "_v"),
    ).select(
        (F.col("m0") + F.col("j")).alias("month_idx"),
        (
            F.expr("cents div span")
            + F.when(F.col("j") < F.col("cents") % F.col("span"), 1).otherwise(0)
        ).alias("a_cents"),
    )
    return (
        alloc.groupBy("month_idx")
        .agg(F.sum("a_cents").alias("alloc_cents"), F.count("*").alias("n_slices"))
        .select(F.col("month_idx").cast("long").alias("month_idx"), "alloc_cents", "n_slices")
        .orderBy("month_idx")
    )


@register(
    "q_price_volume_bridge",
    oracle="""
WITH yr AS (
  SELECT p.p_brand AS brand, year(l.l_shipdate) AS y,
    CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
    CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE year(l.l_shipdate) IN (1997, 1998)
  GROUP BY p.p_brand, year(l.l_shipdate)
),
wide AS (
  SELECT brand,
    max(CASE WHEN y = 1997 THEN qty END)   AS q0,
    max(CASE WHEN y = 1997 THEN cents END) AS c0,
    max(CASE WHEN y = 1998 THEN qty END)   AS q1,
    max(CASE WHEN y = 1998 THEN cents END) AS c1
  FROM yr GROUP BY brand
  HAVING q0 IS NOT NULL AND q1 IS NOT NULL
),
px AS (
  SELECT brand, q0, c0, q1, c1,
    c0 * 1000 // q0 AS p0_milli,
    c1 * 1000 // q1 AS p1_milli
  FROM wide
)
SELECT brand,
  CAST(c1 - c0 AS BIGINT)                              AS delta_cents,
  CAST((q1 - q0) * p0_milli // 1000 AS BIGINT)         AS volume_effect,
  CAST((p1_milli - p0_milli) * q1 // 1000 AS BIGINT)   AS price_effect,
  CAST(c1 - c0 - (q1 - q0) * p0_milli // 1000
       - (p1_milli - p0_milli) * q1 // 1000 AS BIGINT) AS residual
FROM px ORDER BY brand
""",
    tags=("D1", "C1", "E2"),
)
def q_price_volume_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume bridge: decompose each brand's 1997→1998 revenue
    change into a volume effect (Δqty at old average price), a price
    effect (Δavg-price at new volume), and the explicit interaction/
    rounding residual — the FP&A waterfall behind every "why did
    revenue move" review. Emitting the residual instead of hiding it
    keeps the bridge additive BY CONSTRUCTION (the four columns sum
    to zero drift), which is what makes it auditable.

    All terms on integer grids: average prices as milli-cents via
    floor division, effects floor-divided back to cents — identical
    integer algebra both engines, no doubles anywhere.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    y = F.year("l_shipdate")
    yr = (
        l.filter(y.isin(1997, 1998))
        .join(maybe_broadcast(p.select("p_partkey", "p_brand"), sf_dir, "part"), l.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), y.alias("y"))
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias("cents"),
        )
    )
    wide = (
        yr.groupBy("brand")
        .agg(
            F.max(F.when(F.col("y") == 1997, F.col("qty"))).alias("q0"),
            F.max(F.when(F.col("y") == 1997, F.col("cents"))).alias("c0"),
            F.max(F.when(F.col("y") == 1998, F.col("qty"))).alias("q1"),
            F.max(F.when(F.col("y") == 1998, F.col("cents"))).alias("c1"),
        )
        .filter(F.col("q0").isNotNull() & F.col("q1").isNotNull())
    )
    px = wide.select(
        "brand", "q0", "c0", "q1", "c1",
        F.expr("c0 * 1000 div q0").alias("p0_milli"),
        F.expr("c1 * 1000 div q1").alias("p1_milli"),
    )
    return px.select(
        "brand",
        F.expr("c1 - c0").alias("delta_cents"),
        F.expr("(q1 - q0) * p0_milli div 1000").alias("volume_effect"),
        F.expr("(p1_milli - p0_milli) * q1 div 1000").alias("price_effect"),
        F.expr(
            "c1 - c0 - (q1 - q0) * p0_milli div 1000"
            " - (p1_milli - p0_milli) * q1 div 1000"
        ).alias("residual"),
    ).orderBy("brand")


@register(
    "q_price_elasticity",
    oracle="""
WITH yr AS (
  SELECT p.p_brand AS brand, year(l.l_shipdate) AS y,
    CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
    CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE year(l.l_shipdate) IN (1997, 1998)
  GROUP BY p.p_brand, year(l.l_shipdate)
),
wide AS (
  SELECT brand,
    max(CASE WHEN y = 1997 THEN qty END)   AS q0,
    max(CASE WHEN y = 1997 THEN cents END) AS c0,
    max(CASE WHEN y = 1998 THEN qty END)   AS q1,
    max(CASE WHEN y = 1998 THEN cents END) AS c1
  FROM yr GROUP BY brand
  HAVING q0 IS NOT NULL AND q1 IS NOT NULL
),
px AS (
  SELECT brand, q0, q1,
    c0 * 1000 // q0 AS p0_milli,
    c1 * 1000 // q1 AS p1_milli
  FROM wide
)
SELECT brand,
  CAST(p1_milli - p0_milli AS BIGINT) AS dp_milli,
  CAST(q1 - q0 AS BIGINT) AS dq,
  CAST((q1 - q0) * p0_milli * 1000000
       // nullif(q0 * (p1_milli - p0_milli), 0) AS BIGINT) AS elasticity_ppm
FROM px ORDER BY brand
""",
    tags=("D1", "C1"),
)
def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity of demand per brand across 1997→1998:
    (Δq/q₀)/(Δp/p₀) on the same integer milli-cent price grid as
    q_price_volume_bridge. Emitted in ppm via one truncating
    division (semantics verified identical across engines, including
    negatives); brands whose average price did not move emit NULL
    (nullif guard) rather than a fake infinity — the honest
    undefined-elasticity answer.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    y = F.year("l_shipdate")
    yr = (
        l.filter(y.isin(1997, 1998))
        .join(maybe_broadcast(p.select("p_partkey", "p_brand"), sf_dir, "part"), l.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), y.alias("y"))
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias("cents"),
        )
    )
    wide = (
        yr.groupBy("brand")
        .agg(
            F.max(F.when(F.col("y") == 1997, F.col("qty"))).alias("q0"),
            F.max(F.when(F.col("y") == 1997, F.col("cents"))).alias("c0"),
            F.max(F.when(F.col("y") == 1998, F.col("qty"))).alias("q1"),
            F.max(F.when(F.col("y") == 1998, F.col("cents"))).alias("c1"),
        )
        .filter(F.col("q0").isNotNull() & F.col("q1").isNotNull())
    )
    px = wide.select(
        "brand", "q0", "q1",
        F.expr("c0 * 1000 div q0").alias("p0_milli"),
        F.expr("c1 * 1000 div q1").alias("p1_milli"),
    )
    return px.select(
        "brand",
        (F.col("p1_milli") - F.col("p0_milli")).alias("dp_milli"),
        (F.col("q1") - F.col("q0")).alias("dq"),
        F.expr(
            "(q1 - q0) * p0_milli * 1000000"
            " div nullif(q0 * (p1_milli - p0_milli), 0)"
        ).alias("elasticity_ppm"),
    ).orderBy("brand")


@register(
    "q_brand_rank_shift",
    oracle="""
WITH yr AS (
  SELECT p.p_brand AS brand, year(l.l_shipdate) AS y,
    CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE year(l.l_shipdate) IN (1997, 1998)
  GROUP BY p.p_brand, year(l.l_shipdate)
),
ranked AS (
  SELECT brand, y, cents,
    CAST(rank() OVER (PARTITION BY y ORDER BY cents DESC, brand) AS BIGINT) AS rk
  FROM yr
),
wide AS (
  SELECT brand,
    max(CASE WHEN y = 1997 THEN rk END) AS rank_97,
    max(CASE WHEN y = 1998 THEN rk END) AS rank_98
  FROM ranked GROUP BY brand
  HAVING rank_97 IS NOT NULL AND rank_98 IS NOT NULL
)
SELECT brand, rank_97, rank_98,
  CAST(rank_97 - rank_98 AS BIGINT) AS places_gained
FROM wide ORDER BY places_gained DESC, brand
""",
    tags=("E1", "D1"),
)
def q_brand_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard movement: each brand's revenue rank in 1997 vs
    1998 and the places gained/lost — the year-over-year market
    movers view. Ranks use rank() with a (cents DESC, brand) total
    order so ties are engine-identical; the rank windows partition
    by year over the tiny brand×year rollup, never over lineitem.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    y = F.year("l_shipdate")
    yr = (
        l.filter(y.isin(1997, 1998))
        .join(maybe_broadcast(p.select("p_partkey", "p_brand"), sf_dir, "part"), l.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), y.alias("y"))
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias("cents"))
    )
    rk = F.rank().over(W.partitionBy("y").orderBy(F.desc("cents"), "brand"))
    ranked = yr.select("brand", "y", rk.cast("long").alias("rk"))
    wide = (
        ranked.groupBy("brand")
        .agg(
            F.max(F.when(F.col("y") == 1997, F.col("rk"))).alias("rank_97"),
            F.max(F.when(F.col("y") == 1998, F.col("rk"))).alias("rank_98"),
        )
        .filter(F.col("rank_97").isNotNull() & F.col("rank_98").isNotNull())
    )
    return wide.select(
        "brand",
        "rank_97",
        "rank_98",
        (F.col("rank_97") - F.col("rank_98")).alias("places_gained"),
    ).orderBy(F.desc("places_gained"), "brand")


@register(
    "q_vwap_monthly",
    oracle="""
WITH l AS (
  SELECT year(l_shipdate) * 12 + month(l_shipdate) - 1 AS m,
    CAST(l_quantity AS BIGINT) AS qty,
    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
  FROM lineitem
)
SELECT CAST(m AS BIGINT) AS month_idx,
  CAST(sum(qty) AS BIGINT) AS volume,
  CAST(sum(cents) AS BIGINT) AS notional_cents,
  CAST(sum(cents) * 1000 // sum(qty) AS BIGINT) AS vwap_milli
FROM l GROUP BY m ORDER BY m
""",
    tags=("D1", "H2"),
)
def q_vwap_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per month — the execution-quality
    benchmark (VWAP = Σ notional / Σ volume): one map-side-combined
    aggregate over the fact table, the weighted-average-by-ratio-of-
    sums pattern (never avg-of-averages, which overweights small
    trades). Milli-cent output via a single floor division after the
    exact integer sums.
    """
    l = load_table(spark, sf_dir, "lineitem")
    m = (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).alias("m")
    return (
        l.select(
            m,
            F.col("l_quantity").cast("long").alias("qty"),
            F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("m")
        .agg(
            F.sum("qty").alias("volume"),
            F.sum("cents").alias("notional_cents"),
            F.expr("sum(cents) * 1000 div sum(qty)").alias("vwap_milli"),
        )
        .select(
            F.col("m").cast("long").alias("month_idx"),
            "volume",
            "notional_cents",
            "vwap_milli",
        )
        .orderBy("month_idx")
    )


@register(
    "q_backlog_aging",
    oracle="""
WITH o AS (
  SELECT epoch_us(o_orderdate) // 86400000000 AS od,
    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders WHERE o_orderstatus = 'O'
),
anchor AS (SELECT max(epoch_us(o_orderdate)) // 86400000000 AS today FROM orders),
aged AS (
  SELECT CASE WHEN today - od <= 30 THEN '0-030'
              WHEN today - od <= 60 THEN '031-060'
              WHEN today - od <= 90 THEN '061-090'
              ELSE '090+' END AS bucket,
         cents
  FROM o CROSS JOIN anchor
)
SELECT bucket,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(cents) AS BIGINT) AS cents
FROM aged GROUP BY bucket ORDER BY bucket
""",
    tags=("D1", "H2", "B6"),
)
def q_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backlog aging report: open orders bucketed by days outstanding
    (0-30 / 31-60 / 61-90 / 90+) against the corpus anchor date —
    the AR-aging / fulfillment-backlog query every operations
    dashboard carries. Integer epoch-day arithmetic (TZ-free), the
    anchor is a broadcast scalar, and bucket labels are zero-padded
    so lexical ORDER BY equals numeric order on both engines.
    """
    o = load_table(spark, sf_dir, "orders")
    od = o.select(
        epoch_us("o_orderdate").alias("ous"),
        F.col("o_orderstatus").alias("st"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    anchor = od.agg(F.expr("max(ous) div 86400000000").alias("today"))
    aged = (
        od.filter(F.col("st") == "O")
        .select(F.expr("ous div 86400000000").alias("oday"), "cents")
        .crossJoin(F.broadcast(anchor))
        .select(
            F.when(F.col("today") - F.col("oday") <= 30, "0-030")
            .when(F.col("today") - F.col("oday") <= 60, "031-060")
            .when(F.col("today") - F.col("oday") <= 90, "061-090")
            .otherwise("090+")
            .alias("bucket"),
            "cents",
        )
    )
    return (
        aged.groupBy("bucket")
        .agg(F.count("*").alias("n_orders"), F.sum("cents").alias("cents"))
        .orderBy("bucket")
    )


@register(
    "q_skyline_parts",
    oracle="""
WITH p AS (
  SELECT p_partkey, p_brand, p_size,
    CAST(round(p_retailprice * 100, 0) AS BIGINT) AS price_cents
  FROM part
),
ranked AS (
  SELECT p_partkey, p_brand, p_size, price_cents,
    min(p_size) OVER (ORDER BY price_cents
      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS min_cheaper,
    min(p_size) OVER (PARTITION BY price_cents) AS min_same
  FROM p
),
sky AS (
  SELECT p_brand, p_size, price_cents
  FROM ranked
  WHERE (min_cheaper IS NULL OR p_size < min_cheaper) AND p_size = min_same
)
SELECT p_brand,
  CAST(count(*) AS BIGINT) AS n_sky,
  CAST(min(price_cents) AS BIGINT) AS min_price_cents,
  CAST(min(p_size) AS BIGINT) AS min_size,
  CAST(sum(price_cents) AS BIGINT) AS sum_price_cents
FROM sky GROUP BY p_brand ORDER BY p_brand
""",
    tags=("E3", "F1", "C7"),
)
def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts for which no other part
    is both cheaper-or-equal AND smaller-or-equal with one strict —
    the multi-criteria shortlist operator. The naive formulation is
    an O(n²) dominance anti-join; the 2-D rewrite is two windows:
    survive iff size < min(size) among STRICTLY cheaper parts (a
    value-RANGE frame ending 1 before the current price) AND size
    equals the minimum within the same price point (equal-price,
    smaller-size dominates; exact (price, size) duplicates all
    survive, since neither strictly dominates). Prices on the exact
    cent grid make the range frame integer-valued on both engines.
    """
    p = load_table(spark, sf_dir, "part").select(
        "p_brand",
        "p_size",
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("price_cents"),
    )
    w_cheaper = (
        W.orderBy("price_cents").rangeBetween(W.unboundedPreceding, -1)
    )
    w_same = W.partitionBy("price_cents")
    ranked = p.select(
        "p_brand",
        "p_size",
        "price_cents",
        F.min("p_size").over(w_cheaper).alias("min_cheaper"),
        F.min("p_size").over(w_same).alias("min_same"),
    )
    sky = ranked.filter(
        (F.col("min_cheaper").isNull() | (F.col("p_size") < F.col("min_cheaper")))
        & (F.col("p_size") == F.col("min_same"))
    )
    return (
        sky.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_sky"),
            F.min("price_cents").alias("min_price_cents"),
            F.min("p_size").cast("long").alias("min_size"),
            F.sum("price_cents").alias("sum_price_cents"),
        )
        .orderBy("p_brand")
    )


@register(
    "q_trade_balance",
    oracle="""
WITH rev AS (
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
exports AS (SELECT src AS nation, CAST(sum(cents) AS BIGINT) AS exp_cents FROM rev GROUP BY src),
imports AS (SELECT dst AS nation, CAST(sum(cents) AS BIGINT) AS imp_cents FROM rev GROUP BY dst)
SELECT coalesce(e.nation, i.nation) AS nation,
  CAST(coalesce(e.exp_cents, 0) AS BIGINT) AS exp_cents,
  CAST(coalesce(i.imp_cents, 0) AS BIGINT) AS imp_cents,
  CAST(coalesce(e.exp_cents, 0) - coalesce(i.imp_cents, 0) AS BIGINT) AS balance_cents
FROM exports e FULL OUTER JOIN imports i ON e.nation = i.nation
ORDER BY balance_cents DESC, nation
""",
    tags=("C1", "C2", "D1", "J19"),
)
def q_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade balance per nation: cross-border revenue where the
    supplying nation exports and the customer nation imports;
    surplus = exports − imports — the macro view over the same
    5-way edge build as q_trade_pagerank (domestic flows excluded).
    The edge aggregate is the scale-bound stage; the balance fold is
    a full-outer join over ≤25-row sides.
    """
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
    exports = rev.groupBy(F.col("src").alias("nation")).agg(F.sum("cents").alias("exp_cents"))
    imports = rev.groupBy(F.col("dst").alias("nation")).agg(F.sum("cents").alias("imp_cents"))
    return (
        exports.join(imports, "nation", "full_outer")
        .select(
            "nation",
            F.coalesce("exp_cents", F.lit(0)).alias("exp_cents"),
            F.coalesce("imp_cents", F.lit(0)).alias("imp_cents"),
            (F.coalesce("exp_cents", F.lit(0)) - F.coalesce("imp_cents", F.lit(0))).alias(
                "balance_cents"
            ),
        )
        .orderBy(F.desc("balance_cents"), "nation")
    )


@register(
    "q_cross_sell_matrix",
    oracle="""
WITH seg_size AS (
  SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n_seg
  FROM customer GROUP BY c_mktsegment
),
pen AS (
  SELECT c.c_mktsegment AS seg, p.p_brand AS brand,
    CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_buyers
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY c.c_mktsegment, p.p_brand
)
SELECT pen.seg, pen.brand, pen.n_buyers,
  CAST(pen.n_buyers * 1000000 // s.n_seg AS BIGINT) AS penetration_ppm
FROM pen JOIN seg_size s ON pen.seg = s.seg
ORDER BY pen.seg, pen.brand
""",
    tags=("C1", "D2", "D1"),
)
def q_cross_sell_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sell penetration matrix: for every (market segment,
    brand) cell, how many distinct customers bought the brand and
    what share of the segment that is — the assortment/whitespace
    view category managers run. The distinct-buyer count shuffles
    (seg, brand, custkey) once; segment sizes broadcast back; ppm by
    floor division.
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    seg_size = c.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count("*").alias("n_seg")
    )
    pen = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c.select("c_custkey", "c_mktsegment"), sf_dir, "customer"), o.o_custkey == c.c_custkey)
        .join(maybe_broadcast(p.select("p_partkey", "p_brand"), sf_dir, "part"), l.l_partkey == p.p_partkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("p_brand").alias("brand"))
        .agg(F.countDistinct("c_custkey").alias("n_buyers"))
    )
    return (
        pen.join(F.broadcast(seg_size), "seg")
        .select(
            "seg",
            "brand",
            "n_buyers",
            F.expr("n_buyers * 1000000 div n_seg").alias("penetration_ppm"),
        )
        .orderBy("seg", "brand")
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
        F.sum("cents").over(W.partitionBy("region")).alias("region_cents"),
        F.sum("cents").over(W.partitionBy()).alias("world_cents"),
    )
    return tot.select(
        "region",
        "nation",
        "cents",
        F.expr("cents div greatest(region_cents div 1000000, 1)").alias("share_of_region_ppm"),
        F.expr("cents div greatest(world_cents div 1000000, 1)").alias("share_of_world_ppm"),
    ).orderBy("region", "nation")


@register(
    "q_returns_p_chart",
    oracle="""
WITH monthly AS (
  SELECT year(l_shipdate) * 12 + month(l_shipdate) - 1 AS m,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS x
  FROM lineitem GROUP BY m
),
pooled AS (
  SELECT CAST(sum(n) AS BIGINT) AS big_n, CAST(sum(x) AS BIGINT) AS big_p
  FROM monthly
),
tested AS (
  SELECT m.m, m.n, m.x,
    CAST(m.x * 1000000 // m.n AS BIGINT) AS rate_ppm,
    CASE WHEN
      CAST(m.x AS DECIMAL(38, 0)) * p.big_n - CAST(p.big_p AS DECIMAL(38, 0)) * m.n != 0
      AND (CAST(m.x AS DECIMAL(38, 0)) * p.big_n - CAST(p.big_p AS DECIMAL(38, 0)) * m.n)
        * (CAST(m.x AS DECIMAL(38, 0)) * p.big_n - CAST(p.big_p AS DECIMAL(38, 0)) * m.n)
        > CAST(9 AS DECIMAL(38, 0)) * p.big_p * (p.big_n - p.big_p) * m.n
    THEN 1 ELSE 0 END AS out_of_control
  FROM monthly m CROSS JOIN pooled p
)
SELECT
  CAST(count(*) AS BIGINT) AS n_months,
  CAST(sum(out_of_control) AS BIGINT) AS n_ooc,
  CAST(min(rate_ppm) AS BIGINT) AS min_rate_ppm,
  CAST(max(rate_ppm) AS BIGINT) AS max_rate_ppm
FROM tested
""",
    tags=("D8", "D1", "B6"),
)
def q_returns_p_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical process control p-chart on monthly return rates:
    a month is out-of-control when its rate leaves the pooled ±3σ
    binomial band — tested WITHOUT floating point via the
    cross-multiplied inequality (x·N − P·n)² > 9·P·(N−P)·n, whose
    squared term exceeds bigint range (measured ~10²⁰ at sf0.1), so
    both sides evaluate it in DECIMAL(38,0) / HUGEINT — the
    d_partial_agg_merge wide-integer precedent. The pooled totals
    broadcast as a single row.
    """
    l = load_table(spark, sf_dir, "lineitem")
    m = (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).alias("m")
    monthly = (
        l.select(m, F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("r"))
        .groupBy("m")
        .agg(F.count("*").alias("n"), F.sum("r").alias("x"))
    )
    pooled = monthly.agg(
        F.sum("n").alias("big_n"), F.sum("x").alias("big_p")
    )
    dev = (
        F.col("x").cast("decimal(38,0)") * F.col("big_n")
        - F.col("big_p").cast("decimal(38,0)") * F.col("n")
    )
    bound = (
        F.lit(9).cast("decimal(38,0)")
        * F.col("big_p")
        * (F.col("big_n") - F.col("big_p"))
        * F.col("n")
    )
    tested = monthly.crossJoin(F.broadcast(pooled)).select(
        "m",
        "n",
        "x",
        F.expr("x * 1000000 div n").alias("rate_ppm"),
        F.when((dev != 0) & (dev * dev > bound), 1).otherwise(0).alias("out_of_control"),
    )
    return tested.agg(
        F.count("*").alias("n_months"),
        F.sum("out_of_control").alias("n_ooc"),
        F.min("rate_ppm").alias("min_rate_ppm"),
        F.max("rate_ppm").alias("max_rate_ppm"),
    )


@register(
    "q_abc_xyz_matrix",
    oracle="""
WITH monthly AS (
  SELECT l_partkey, year(l_shipdate) * 12 + month(l_shipdate) - 1 AS m,
    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey, m
),
per_part AS (
  SELECT l_partkey,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(q) AS BIGINT) AS s1,
    sum(CAST(q AS HUGEINT) * q) AS s2,
    CAST(sum(cents) AS BIGINT) AS cents
  FROM monthly GROUP BY l_partkey
),
abc AS (
  SELECT l_partkey, n, s1, s2, cents,
    sum(cents) OVER (ORDER BY cents DESC, l_partkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents,
    sum(cents) OVER () AS tot_cents
  FROM per_part
),
classed AS (
  SELECT
    -- 128-bit comparisons: cum_cents*10 overflows int64 past $920T
    -- corpus revenue and s1*s1 past ~3e9 per-part quantity — both
    -- reachable on a 100-TB deployment
    CASE WHEN CAST(cum_cents AS HUGEINT) * 10 <= CAST(tot_cents AS HUGEINT) * 7 THEN 'A'
         WHEN CAST(cum_cents AS HUGEINT) * 10 <= CAST(tot_cents AS HUGEINT) * 9 THEN 'B'
         ELSE 'C' END AS abc,
    CASE WHEN 4 * (n * CAST(s2 AS HUGEINT) - CAST(s1 AS HUGEINT) * s1) <= CAST(s1 AS HUGEINT) * s1 THEN 'X'
         WHEN n * CAST(s2 AS HUGEINT) - CAST(s1 AS HUGEINT) * s1 <= CAST(s1 AS HUGEINT) * s1 THEN 'Y'
         ELSE 'Z' END AS xyz,
    cents
  FROM abc
)
SELECT abc, xyz,
  CAST(count(*) AS BIGINT) AS n_parts,
  CAST(sum(cents) AS BIGINT) AS cents
FROM classed GROUP BY abc, xyz ORDER BY abc, xyz
""",
    tags=("D1", "E3", "D8"),
)
def q_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC×XYZ inventory matrix: revenue-share class (the
    d_abc_classification cutoffs) crossed with demand-variability
    class — X/Y/Z by coefficient of variation of monthly quantities,
    tested entirely in integers via CoV² = (n·S2 − S1²)/S1²
    cross-multiplications (CoV ≤ ½ ⟺ 4(nS2−S1²) ≤ S1²; ≤ 1 ⟺
    nS2−S1² ≤ S1²). The 9-cell matrix is the stocking-policy
    planner's standard view (AX = automate, CZ = discontinue). Part
    rollups reduce before the single global running-share window.
    """
    l = load_table(spark, sf_dir, "lineitem")
    m = (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).alias("m")
    monthly = (
        l.select(
            "l_partkey",
            m,
            F.col("l_quantity").cast("long").alias("q"),
            F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("l_partkey", "m")
        .agg(F.sum("q").alias("q"), F.sum("cents").alias("cents"))
    )
    per_part = monthly.groupBy("l_partkey").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("s1"),
        # q*q in 128-bit: per-part monthly quantity squares pass int64
        # at ~3e9 units/month
        F.sum(F.expr("CAST(q AS DECIMAL(38,0)) * q")).alias("s2"),
        F.sum("cents").alias("cents"),
    )
    w_cum = W.orderBy(F.desc("cents"), "l_partkey").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    abc = per_part.select(
        "n",
        "s1",
        "s2",
        "cents",
        F.sum("cents").over(w_cum).alias("cum_cents"),
        F.sum("cents").over(W.partitionBy()).alias("tot_cents"),
    )
    # 128-bit comparisons (see oracle note): cum_cents*10 and s1*s1
    # overflow int64 at 100-TB magnitudes
    cum_d = F.col("cum_cents").cast("decimal(38,0)")
    tot_d = F.col("tot_cents").cast("decimal(38,0)")
    classed = abc.select(
        F.when(cum_d * 10 <= tot_d * 7, "A")
        .when(cum_d * 10 <= tot_d * 9, "B")
        .otherwise("C")
        .alias("abc"),
        F.when(
            F.expr(
                "4 * (n * CAST(s2 AS DECIMAL(38,0))"
                " - CAST(s1 AS DECIMAL(38,0)) * s1)"
                " <= CAST(s1 AS DECIMAL(38,0)) * s1"
            ),
            "X",
        )
        .when(
            F.expr(
                "n * CAST(s2 AS DECIMAL(38,0))"
                " - CAST(s1 AS DECIMAL(38,0)) * s1"
                " <= CAST(s1 AS DECIMAL(38,0)) * s1"
            ),
            "Y",
        )
        .otherwise("Z")
        .alias("xyz"),
        "cents",
    )
    return (
        classed.groupBy("abc", "xyz")
        .agg(F.count("*").alias("n_parts"), F.sum("cents").alias("cents"))
        .orderBy("abc", "xyz")
    )


@register(
    "q_diff_in_diff",
    oracle="""
WITH yr AS (
  SELECT CASE WHEN p.p_type LIKE 'PROMO%' THEN 'promo' ELSE 'base' END AS grp,
    year(l.l_shipdate) AS y,
    CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
    CAST(count(*) AS BIGINT) AS n
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE year(l.l_shipdate) IN (1997, 1998)
  GROUP BY grp, y
),
wide AS (
  SELECT grp,
    max(CASE WHEN y = 1997 THEN cents END) AS c97,
    max(CASE WHEN y = 1998 THEN cents END) AS c98,
    max(CASE WHEN y = 1997 THEN n END) AS n97,
    max(CASE WHEN y = 1998 THEN n END) AS n98
  FROM yr GROUP BY grp
),
per AS (
  SELECT grp, c97, c98,
    c98 * 1000 // n98 - c97 * 1000 // n97 AS delta_per_line_milli
  FROM wide
)
SELECT
  CAST(max(CASE WHEN grp = 'promo' THEN c98 - c97 END) AS BIGINT) AS promo_delta_cents,
  CAST(max(CASE WHEN grp = 'base' THEN c98 - c97 END) AS BIGINT)  AS base_delta_cents,
  CAST(max(CASE WHEN grp = 'promo' THEN delta_per_line_milli END)
     - max(CASE WHEN grp = 'base' THEN delta_per_line_milli END) AS BIGINT)
    AS did_per_line_milli
FROM per
""",
    tags=("D1", "C1", "B6"),
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: promo-type parts (treatment) vs the
    rest (control), 1997→1998 — the causal-inference workhorse that
    nets out the market-wide trend from the treatment effect. The
    estimate is reported per line in milli-cents (Δtreat − Δcontrol
    of per-line averages via floor division), alongside the raw
    group deltas; all arithmetic on exact integer grids.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    y = F.year("l_shipdate")
    yr = (
        l.filter(y.isin(1997, 1998))
        .join(maybe_broadcast(p.select("p_partkey", "p_type"), sf_dir, "part"), l.l_partkey == p.p_partkey)
        .groupBy(
            F.when(F.col("p_type").startswith("PROMO"), "promo").otherwise("base").alias("grp"),
            y.alias("y"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias("cents"),
            F.count("*").alias("n"),
        )
    )
    wide = yr.groupBy("grp").agg(
        F.max(F.when(F.col("y") == 1997, F.col("cents"))).alias("c97"),
        F.max(F.when(F.col("y") == 1998, F.col("cents"))).alias("c98"),
        F.max(F.when(F.col("y") == 1997, F.col("n"))).alias("n97"),
        F.max(F.when(F.col("y") == 1998, F.col("n"))).alias("n98"),
    )
    per = wide.select(
        "grp",
        "c97",
        "c98",
        F.expr("c98 * 1000 div n98 - c97 * 1000 div n97").alias("dplm"),
    )
    return per.agg(
        F.max(F.when(F.col("grp") == "promo", F.expr("c98 - c97"))).alias("promo_delta_cents"),
        F.max(F.when(F.col("grp") == "base", F.expr("c98 - c97"))).alias("base_delta_cents"),
        (
            F.max(F.when(F.col("grp") == "promo", F.col("dplm")))
            - F.max(F.when(F.col("grp") == "base", F.col("dplm")))
        ).alias("did_per_line_milli"),
    )


@register(
    "q_scenario_sweep",
    oracle="""
WITH scen AS (SELECT unnest(generate_series(0, 4)) AS s),
swept AS (
  SELECT s.s * 5 AS extra_disc_pct,
    CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS cents,
    CAST(round(l.l_discount * 100, 0) AS BIGINT) + s.s * 5 AS disc_pct
  FROM lineitem l CROSS JOIN scen s
)
SELECT CAST(extra_disc_pct AS BIGINT) AS extra_disc_pct,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(sum(cents * (100 - least(disc_pct, 100)) // 100) AS BIGINT) AS net_cents
FROM swept GROUP BY extra_disc_pct ORDER BY extra_disc_pct
""",
    tags=("D1", "H3", "B6"),
)
def q_scenario_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scenario-grid evaluation in ONE scan: five extra-discount
    scenarios (+0% … +20%) priced against every lineitem via a
    5-row broadcast grid instead of five separate jobs — the what-if
    sweep pattern (grid × facts → per-scenario aggregate) that keeps
    parameter studies O(1 scan). Net revenue per scenario in exact
    integer cents with a clamped discount (least(d, 100)); the
    explode factor is the scenario count, absorbed map-side by
    partial aggregation.
    """
    l = load_table(spark, sf_dir, "lineitem")
    scen = spark.range(0, 5).select((F.col("id") * 5).cast("long").alias("extra"))
    swept = l.select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("base_disc"),
    ).crossJoin(F.broadcast(scen))
    return (
        swept.groupBy(F.col("extra").alias("extra_disc_pct"))
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(
                F.expr("cents * (100 - least(base_disc + extra, 100)) div 100")
            ).alias("net_cents"),
        )
        .orderBy("extra_disc_pct")
    )


@register(
    "q_brand_switching_matrix",
    oracle="""
WITH spend AS (
  SELECT o.o_custkey AS cust, p.p_brand AS brand, year(l.l_shipdate) AS y,
    CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE year(l.l_shipdate) IN (1997, 1998)
  GROUP BY cust, brand, y
),
fav AS (
  SELECT cust, y, brand FROM (
    SELECT cust, y, brand,
      row_number() OVER (PARTITION BY cust, y ORDER BY cents DESC, brand) AS rn
    FROM spend
  ) WHERE rn = 1
),
trans AS (
  SELECT a.brand AS brand_97, b.brand AS brand_98
  FROM fav a JOIN fav b ON a.cust = b.cust AND a.y = 1997 AND b.y = 1998
)
SELECT brand_97, brand_98,
  CAST(count(*) AS BIGINT) AS n_customers,
  CASE WHEN brand_97 = brand_98 THEN 'loyal' ELSE 'switched' END AS kind
FROM trans GROUP BY brand_97, brand_98
HAVING count(*) >= 3
ORDER BY n_customers DESC, brand_97, brand_98
""",
    tags=("E1", "C1", "D1"),
)
def q_brand_switching_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-switching matrix: each customer's FAVORITE brand per
    year (argmax of spend, (cents DESC, brand) total order), then
    the 1997→1998 transition counts — the loyalty/churn view that
    prices win-back campaigns. Cells under 3 customers are
    suppressed (the k-anonymity floor from t_k_anonymity, applied as
    a HAVING). The favorite computation is one (cust, brand, year)
    rollup plus a per-(cust, year) window — never a self-join at
    fact grain.
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    y = F.year("l_shipdate")
    spend = (
        l.filter(y.isin(1997, 1998))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(p.select("p_partkey", "p_brand"), sf_dir, "part"), l.l_partkey == p.p_partkey)
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.col("p_brand").alias("brand"),
            y.alias("y"),
        )
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias("cents"))
    )
    w = W.partitionBy("cust", "y").orderBy(F.desc("cents"), "brand")
    fav = spend.select("cust", "y", "brand", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") == 1
    )
    a = fav.filter(F.col("y") == 1997).select("cust", F.col("brand").alias("brand_97"))
    b = fav.filter(F.col("y") == 1998).select(
        F.col("cust").alias("cust_b"), F.col("brand").alias("brand_98")
    )
    trans = a.join(b, a.cust == F.col("cust_b"))
    return (
        trans.groupBy("brand_97", "brand_98")
        .agg(F.count("*").alias("n_customers"))
        .filter(F.col("n_customers") >= 3)
        .select(
            "brand_97",
            "brand_98",
            "n_customers",
            F.when(F.col("brand_97") == F.col("brand_98"), "loyal")
            .otherwise("switched")
            .alias("kind"),
        )
        .orderBy(F.desc("n_customers"), "brand_97", "brand_98")
    )


@register(
    "q_otif_rate",
    oracle="""
WITH line_flags AS (
  SELECT l.l_orderkey,
    epoch_us(l.l_shipdate) <= epoch_us(o.o_orderdate) + 30 * 86400000000 AS on_time
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
per_order AS (
  SELECT lf.l_orderkey, bool_and(lf.on_time) AS otif
  FROM line_flags lf GROUP BY lf.l_orderkey
),
labeled AS (
  SELECT o.o_orderpriority, p.otif
  FROM per_order p JOIN orders o ON p.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(CASE WHEN otif THEN 1 ELSE 0 END) AS BIGINT) AS n_otif,
  CAST(sum(CASE WHEN otif THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS otif_ppm
FROM labeled GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    tags=("D1", "C1", "H2"),
)
def q_otif_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTIF (on-time-in-full): an order scores only if EVERY line
    shipped within 30 days of order date — the all-or-nothing
    service KPI (one late line fails the whole order), which is
    precisely a bool_and at order grain, not a line-level average
    (line-level on-time% systematically overstates service). Two
    passes on the same orderkey partitioning; day arithmetic in µs
    integers.
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    line_flags = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        (
            epoch_us("l_shipdate")
            <= epoch_us("o_orderdate") + F.lit(30 * 86400000000)
        ).alias("on_time"),
    )
    per_order = line_flags.groupBy("l_orderkey").agg(
        F.bool_and("on_time").alias("otif")
    )
    labeled = per_order.join(
        o.select("o_orderkey", "o_orderpriority"),
        per_order.l_orderkey == F.col("o_orderkey"),
    )
    return (
        labeled.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.when(F.col("otif"), 1).otherwise(0)).alias("n_otif"),
            F.expr(
                "sum(CASE WHEN otif THEN 1 ELSE 0 END) * 1000000 div count(*)"
            ).alias("otif_ppm"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q_same_store_growth",
    oracle="""
WITH yearly AS (
  SELECT o_custkey AS cust, year(o_orderdate) AS y,
    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM orders WHERE year(o_orderdate) IN (1997, 1998)
  GROUP BY cust, y
),
wide AS (
  SELECT cust,
    max(CASE WHEN y = 1997 THEN cents END) AS c97,
    max(CASE WHEN y = 1998 THEN cents END) AS c98
  FROM yearly GROUP BY cust
),
agg AS (
  SELECT
    CAST(sum(coalesce(c97, 0)) AS BIGINT) AS all_97,
    CAST(sum(coalesce(c98, 0)) AS BIGINT) AS all_98,
    CAST(sum(CASE WHEN c97 IS NOT NULL AND c98 IS NOT NULL THEN c97 ELSE 0 END) AS BIGINT) AS ss_97,
    CAST(sum(CASE WHEN c97 IS NOT NULL AND c98 IS NOT NULL THEN c98 ELSE 0 END) AS BIGINT) AS ss_98,
    CAST(sum(CASE WHEN c97 IS NOT NULL AND c98 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_comparable
  FROM wide
)
SELECT all_97, all_98, ss_97, ss_98, n_comparable,
  CAST((all_98 - all_97) * 1000000 // all_97 AS BIGINT) AS all_growth_ppm,
  CAST((ss_98 - ss_97) * 1000000 // ss_97 AS BIGINT) AS same_store_growth_ppm
FROM agg
""",
    tags=("D1", "B6"),
)
def q_same_store_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-store (comparable-customer) growth: total 1997→1998
    revenue growth versus growth restricted to customers active in
    BOTH years — the retail methodology that separates organic
    momentum from customer-base churn (all-in growth mixes both; the
    gap between the two numbers IS the acquisition/attrition
    effect). One customer-year rollup, one pivot, exact cents, ppm
    by floor division.
    """
    o = load_table(spark, sf_dir, "orders")
    y = F.year("o_orderdate")
    yearly = (
        o.filter(y.isin(1997, 1998))
        .groupBy(F.col("o_custkey").alias("cust"), y.alias("y"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"))
    )
    wide = yearly.groupBy("cust").agg(
        F.max(F.when(F.col("y") == 1997, F.col("cents"))).alias("c97"),
        F.max(F.when(F.col("y") == 1998, F.col("cents"))).alias("c98"),
    )
    both = F.col("c97").isNotNull() & F.col("c98").isNotNull()
    agg = wide.agg(
        F.sum(F.coalesce("c97", F.lit(0))).alias("all_97"),
        F.sum(F.coalesce("c98", F.lit(0))).alias("all_98"),
        F.sum(F.when(both, F.col("c97")).otherwise(0)).alias("ss_97"),
        F.sum(F.when(both, F.col("c98")).otherwise(0)).alias("ss_98"),
        F.sum(F.when(both, 1).otherwise(0)).alias("n_comparable"),
    )
    return agg.select(
        "all_97",
        "all_98",
        "ss_97",
        "ss_98",
        "n_comparable",
        F.expr("(all_98 - all_97) * 1000000 div all_97").alias("all_growth_ppm"),
        F.expr("(ss_98 - ss_97) * 1000000 div ss_97").alias("same_store_growth_ppm"),
    )


@register(
    "q_service_level_stock",
    oracle="""
WITH monthly AS (
  SELECT p.p_brand AS brand, year(l.l_shipdate) * 12 + month(l.l_shipdate) - 1 AS m,
    CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS demand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY brand, m
),
ranked AS (
  SELECT brand, demand,
    row_number() OVER (PARTITION BY brand ORDER BY demand, m) AS rn,
    count(*) OVER (PARTITION BY brand) AS n,
    CAST(sum(demand) OVER (PARTITION BY brand) AS BIGINT) AS tot
  FROM monthly
)
SELECT brand,
  CAST(max(n) AS BIGINT) AS n_months,
  CAST(max(tot) * 1000 // (max(n) * 1000) AS BIGINT) AS mean_demand,
  CAST(max(CASE WHEN rn = (95 * n + 99) // 100 THEN demand END) AS BIGINT) AS p95_demand,
  CAST(max(CASE WHEN rn = (95 * n + 99) // 100 THEN demand END)
     - max(tot) // max(n) AS BIGINT) AS safety_stock
FROM ranked GROUP BY brand ORDER BY brand
""",
    tags=("D5", "E1", "D1"),
)
def q_service_level_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service-level stock targets (newsvendor-style): per brand the
    95th-percentile monthly demand — the order-up-to level that
    covers 95% of months — and the implied safety stock above mean
    demand. The quantile is rank-exact at ⌈0.95·n⌉ of a (demand,
    month) total order (the discrete-quantile house rule); mean via
    floor division. Windows run over the brand×month rollup, never
    at line grain.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    m = (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).alias("m")
    monthly = (
        l.join(maybe_broadcast(p.select("p_partkey", "p_brand"), sf_dir, "part"), l.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), m)
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("demand"))
    )
    w = W.partitionBy("brand").orderBy("demand", "m")
    w_n = W.partitionBy("brand")
    ranked = monthly.select(
        "brand",
        "demand",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(w_n).alias("n"),
        F.sum("demand").over(w_n).alias("tot"),
    )
    return (
        ranked.groupBy("brand")
        .agg(
            F.max("n").alias("n_months"),
            F.expr("max(tot) * 1000 div (max(n) * 1000)").alias("mean_demand"),
            F.max(
                F.when(F.col("rn") == F.expr("(95 * n + 99) div 100"), F.col("demand"))
            ).alias("p95_demand"),
            (
                F.max(
                    F.when(F.col("rn") == F.expr("(95 * n + 99) div 100"), F.col("demand"))
                )
                - F.expr("max(tot) div max(n)")
            ).alias("safety_stock"),
        )
        .orderBy("brand")
    )


@register(
    "q_lorenz_curve",
    oracle="""
WITH spend AS (
  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT cents,
    row_number() OVER (ORDER BY cents, o_custkey) AS rn,
    count(*) OVER () AS n,
    CAST(sum(cents) OVER (ORDER BY cents, o_custkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
    CAST(sum(cents) OVER () AS BIGINT) AS tot
  FROM spend
),
picked AS (
  SELECT (rn * 10) // n AS decile,
    rn * 1000000 // n AS pop_share_ppm,
    cum // greatest(tot // 1000000, 1) AS spend_share_ppm,
    row_number() OVER (PARTITION BY (rn * 10) // n ORDER BY rn DESC) AS pick
  FROM ranked
)
SELECT CAST(decile AS BIGINT) AS decile,
  CAST(pop_share_ppm AS BIGINT) AS pop_share_ppm,
  CAST(spend_share_ppm AS BIGINT) AS spend_share_ppm
FROM picked WHERE pick = 1 AND decile >= 1
ORDER BY decile
""",
    tags=("E3", "D1"),
)
def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at decile checkpoints: the share of total spend
    held by the bottom-k-deciles of customers — the curve whose area
    deficit IS d_gini_coefficient's scalar, and the visual every
    inequality/concentration review plots. Checkpoints are the LAST
    rank inside each decile of the (cents, custkey) total order;
    shares in divide-the-divisor ppm. Customer rollup first, one
    ascending running sum.
    """
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents")
    )
    w_ord = W.orderBy("cents", "o_custkey")
    ranked = spend.select(
        "cents",
        # row_number is 32-bit; rn*10⁶ overflows int under ANSI at
        # sf0.1 (measured) — widen before any multiplication
        F.row_number().over(w_ord).cast("long").alias("rn"),
        F.count("*").over(W.partitionBy()).alias("n"),
        F.sum("cents")
        .over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum"),
        F.sum("cents").over(W.partitionBy()).alias("tot"),
    )
    pick = F.row_number().over(
        W.partitionBy(F.expr("(rn * 10) div n")).orderBy(F.desc("rn"))
    )
    return (
        ranked.select(
            F.expr("(rn * 10) div n").alias("decile"),
            F.expr("rn * 1000000 div n").alias("pop_share_ppm"),
            F.expr("cum div greatest(tot div 1000000, 1)").alias("spend_share_ppm"),
            pick.alias("pick"),
        )
        .filter((F.col("pick") == 1) & (F.col("decile") >= 1))
        .select("decile", "pop_share_ppm", "spend_share_ppm")
        .orderBy("decile")
    )


@register(
    "q_skyline_3d_nations",
    oracle="""
WITH m AS (
  SELECT n.n_name AS nation,
    CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev,
    CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS custs,
    CAST(count(*) AS BIGINT) AS n_orders
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
),
dominated AS (
  SELECT DISTINCT a.nation
  FROM m a JOIN m b ON b.rev >= a.rev AND b.custs >= a.custs AND b.n_orders >= a.n_orders
    AND (b.rev > a.rev OR b.custs > a.custs OR b.n_orders > a.n_orders)
)
SELECT m.nation, m.rev, m.custs, m.n_orders
FROM m LEFT JOIN dominated d ON m.nation = d.nation
WHERE d.nation IS NULL
ORDER BY m.nation
""",
    tags=("C7", "C5", "F1"),
)
def q_skyline_3d_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General-dimension skyline (here 3-D, maximize all axes):
    nations not dominated on (revenue, distinct customers, order
    count) simultaneously. Above two dimensions the running-min
    window trick (q_skyline_parts) no longer applies, so the honest
    formulation is pairwise dominance — run on the ENTITY ROLLUP
    (25 rows → ≤625 pairs, bounded by geography) with an anti-join
    to drop dominated rows; the data-sized stage is the rollup, and
    the fact table never self-joins.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    m = (
        o.join(maybe_broadcast(c.select("c_custkey", "c_nationkey"), sf_dir, "customer"), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("rev"),
            F.countDistinct("o_custkey").alias("custs"),
            F.count("*").alias("n_orders"),
        )
    )
    a = m.alias("a")
    b = m.alias("b")
    dominated = (
        a.join(
            b,
            (F.col("b.rev") >= F.col("a.rev"))
            & (F.col("b.custs") >= F.col("a.custs"))
            & (F.col("b.n_orders") >= F.col("a.n_orders"))
            & (
                (F.col("b.rev") > F.col("a.rev"))
                | (F.col("b.custs") > F.col("a.custs"))
                | (F.col("b.n_orders") > F.col("a.n_orders"))
            ),
        )
        .select(F.col("a.nation").alias("nation"))
        .distinct()
    )
    return (
        m.join(dominated, "nation", "left_anti")
        .select("nation", "rev", "custs", "n_orders")
        .orderBy("nation")
    )


@register(
    "q_revenue_bridge_saas",
    oracle="""
WITH yearly AS (
  SELECT o_custkey AS cust, year(o_orderdate) AS y,
    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM orders WHERE year(o_orderdate) IN (1997, 1998)
  GROUP BY cust, y
),
wide AS (
  SELECT cust,
    max(CASE WHEN y = 1997 THEN cents END) AS c97,
    max(CASE WHEN y = 1998 THEN cents END) AS c98
  FROM yearly GROUP BY cust
),
bridge AS (
  SELECT
    CAST(sum(coalesce(c97, 0)) AS BIGINT) AS starting,
    CAST(sum(CASE WHEN c97 IS NULL THEN c98 ELSE 0 END) AS BIGINT) AS new_rev,
    CAST(sum(CASE WHEN c97 IS NOT NULL AND c98 IS NOT NULL AND c98 > c97
                  THEN c98 - c97 ELSE 0 END) AS BIGINT) AS expansion,
    CAST(sum(CASE WHEN c97 IS NOT NULL AND c98 IS NOT NULL AND c98 < c97
                  THEN c97 - c98 ELSE 0 END) AS BIGINT) AS contraction,
    CAST(sum(CASE WHEN c98 IS NULL THEN c97 ELSE 0 END) AS BIGINT) AS churned,
    CAST(sum(coalesce(c98, 0)) AS BIGINT) AS ending
  FROM wide
)
SELECT starting, new_rev, expansion, contraction, churned, ending,
  starting + new_rev + expansion - contraction - churned = ending AS conserves
FROM bridge
""",
    tags=("D1", "B6"),
)
def q_revenue_bridge_saas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SaaS revenue bridge: 1997 revenue walks to 1998 through
    exactly five components — new customers, expansion, contraction,
    churn — and the decomposition CONSERVES BY CONSTRUCTION
    (starting + new + expansion − contraction − churned = ending,
    emitted as a checked boolean on exact cents; a bridge that
    doesn't tie out is the most common board-deck bug). One
    customer-year rollup and one conditional-aggregate pass.
    """
    o = load_table(spark, sf_dir, "orders")
    y = F.year("o_orderdate")
    yearly = (
        o.filter(y.isin(1997, 1998))
        .groupBy(F.col("o_custkey").alias("cust"), y.alias("y"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"))
    )
    wide = yearly.groupBy("cust").agg(
        F.max(F.when(F.col("y") == 1997, F.col("cents"))).alias("c97"),
        F.max(F.when(F.col("y") == 1998, F.col("cents"))).alias("c98"),
    )
    has97 = F.col("c97").isNotNull()
    has98 = F.col("c98").isNotNull()
    bridge = wide.agg(
        F.sum(F.coalesce("c97", F.lit(0))).alias("starting"),
        F.sum(F.when(~has97, F.col("c98")).otherwise(0)).alias("new_rev"),
        F.sum(
            F.when(has97 & has98 & (F.col("c98") > F.col("c97")), F.col("c98") - F.col("c97"))
            .otherwise(0)
        ).alias("expansion"),
        F.sum(
            F.when(has97 & has98 & (F.col("c98") < F.col("c97")), F.col("c97") - F.col("c98"))
            .otherwise(0)
        ).alias("contraction"),
        F.sum(F.when(~has98, F.col("c97")).otherwise(0)).alias("churned"),
        F.sum(F.coalesce("c98", F.lit(0))).alias("ending"),
    )
    return bridge.select(
        "starting",
        "new_rev",
        "expansion",
        "contraction",
        "churned",
        "ending",
        (
            F.col("starting")
            + F.col("new_rev")
            + F.col("expansion")
            - F.col("contraction")
            - F.col("churned")
            == F.col("ending")
        ).alias("conserves"),
    )


@register(
    "q_fifo_cogs",
    oracle="""
WITH buys AS (
  SELECT l_partkey, epoch_us(l_shipdate) AS us, l_orderkey, l_linenumber,
    CAST(l_quantity AS BIGINT) AS qty,
    CAST(round(l_extendedprice * 100, 0) AS BIGINT) * 1000
      // CAST(l_quantity AS BIGINT) AS unit_milli
  FROM lineitem WHERE year(l_shipdate) = 1997 AND l_quantity > 0
),
sells AS (
  SELECT l_partkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sold
  FROM lineitem WHERE year(l_shipdate) = 1998 GROUP BY l_partkey
),
layered AS (
  SELECT b.l_partkey, b.qty, b.unit_milli, s.sold,
    CAST(coalesce(sum(b.qty) OVER (PARTITION BY b.l_partkey
      ORDER BY b.us, b.l_orderkey, b.l_linenumber, b.unit_milli, b.qty
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
  FROM buys b JOIN sells s ON b.l_partkey = s.l_partkey
),
matched AS (
  SELECT l_partkey, unit_milli,
    greatest(least(sold - cum_before, qty), 0) AS units_used,
    qty
  FROM layered
),
per_part AS (
  SELECT m.l_partkey,
    CAST(sum(m.units_used) AS BIGINT) AS units_matched,
    CAST(sum(m.units_used * m.unit_milli) // 1000 AS BIGINT) AS cogs_cents,
    CAST(sum(m.qty) AS BIGINT) AS bought
  FROM matched m GROUP BY m.l_partkey
)
SELECT p.p_brand,
  CAST(count(*) AS BIGINT) AS n_parts,
  CAST(sum(pp.units_matched) AS BIGINT) AS units_matched,
  CAST(sum(pp.cogs_cents) AS BIGINT) AS fifo_cogs_cents,
  CAST(sum(pp.bought - pp.units_matched) AS BIGINT) AS units_left
FROM per_part pp JOIN part p ON pp.l_partkey = p.p_partkey
GROUP BY p.p_brand ORDER BY p.p_brand
""",
    tags=("E3", "C1", "D1"),
)
def q_fifo_cogs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO cost of goods sold, relationally: 1997 receipts form cost
    layers per part (ordered by ship date), 1998 demand consumes them
    oldest-first — each layer contributes
    clamp(sold − cum_before, 0, qty) units at its own unit cost, the
    prefix-sum interval-overlap identity that replaces the
    procedural match-loop every ledger system hides inside. One
    ordered window per part for the cumulative layers, pure integer
    milli-cost arithmetic (truncating unit division — the same cents
    grid both engines share), then a brand rollup. Unsold layer
    remainder reports as ending inventory units.
    """
    l = load_table(spark, sf_dir, "lineitem")
    from parking_violations_data_pipeline_spark.functions.timeutil import epoch_us

    y = F.year("l_shipdate")
    buys = l.filter((y == 1997) & (F.col("l_quantity") > 0)).select(
        "l_partkey",
        epoch_us("l_shipdate").alias("us"),
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("qty"),
        F.expr(
            "cast(round(l_extendedprice * 100, 0) as bigint) * 1000"
            " div cast(l_quantity as bigint)"
        ).alias("unit_milli"),
    )
    sells = (
        l.filter(y == 1998)
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sold"))
        .withColumnRenamed("l_partkey", "sk")
    )
    w = (
        W.partitionBy("l_partkey")
        .orderBy("us", "l_orderkey", "l_linenumber", "unit_milli", "qty")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    layered = buys.join(sells, buys.l_partkey == sells.sk).select(
        "l_partkey",
        "qty",
        "unit_milli",
        "sold",
        F.coalesce(F.sum("qty").over(w), F.lit(0)).alias("cum_before"),
    )
    matched = layered.select(
        "l_partkey",
        "unit_milli",
        "qty",
        F.greatest(
            F.least(F.col("sold") - F.col("cum_before"), F.col("qty")), F.lit(0)
        ).alias("units_used"),
    )
    per_part = matched.groupBy("l_partkey").agg(
        F.sum("units_used").alias("units_matched"),
        F.expr("sum(units_used * unit_milli) div 1000").alias("cogs_cents"),
        F.sum("qty").alias("bought"),
    )
    p = load_table(spark, sf_dir, "part")
    return (
        per_part.join(maybe_broadcast(p.select("p_partkey", "p_brand"), sf_dir, "part"),
                      per_part.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("units_matched").alias("units_matched"),
            F.sum("cogs_cents").alias("fifo_cogs_cents"),
            F.sum(F.col("bought") - F.col("units_matched")).alias("units_left"),
        )
        .orderBy("p_brand")
    )


@register(
    "q_brand_entry_curve",
    oracle="""
WITH firsts AS (
  SELECT p.p_brand AS brand,
    min(year(l.l_shipdate) * 4 + (month(l.l_shipdate) - 1) // 3) AS first_q
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY brand
),
per_q AS (
  SELECT first_q AS q, CAST(count(*) AS BIGINT) AS n_new FROM firsts GROUP BY first_q
)
SELECT CAST(q AS BIGINT) AS quarter_idx, n_new,
  CAST(sum(n_new) OVER (ORDER BY q
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_brands
FROM per_q ORDER BY quarter_idx
""",
    tags=("D1", "E3", "H2"),
)
def q_brand_entry_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-entry curve: per quarter, how many brands recorded
    their FIRST sale, and the cumulative assortment size — the
    first-seen-attribution pattern (t_vocab_growth's algebra) at
    business-entity grain, the view category planners use to see
    assortment expansion flatten. One brand-grain min() then a tiny
    prefix sum.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.year("l_shipdate") * 4 + F.expr("(month(l_shipdate) - 1) div 3")
    firsts = (
        l.join(maybe_broadcast(p.select("p_partkey", "p_brand"), sf_dir, "part"), l.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.min(q).alias("first_q"))
    )
    per_q = firsts.groupBy(F.col("first_q").alias("quarter_idx")).agg(
        F.count("*").alias("n_new")
    )
    cum = W.orderBy("quarter_idx").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return per_q.select(
        F.col("quarter_idx").cast("long").alias("quarter_idx"),
        "n_new",
        F.sum("n_new").over(cum).alias("cum_brands"),
    ).orderBy("quarter_idx")


@register(
    "q_triangle_count",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM pairs UNION ALL SELECT b AS node FROM pairs
  ) GROUP BY node
),
ord AS (
  SELECT node, row_number() OVER (ORDER BY d, node) AS o FROM deg
),
e AS (
  SELECT least(oa.o, ob.o) AS lo, greatest(oa.o, ob.o) AS hi
  FROM pairs JOIN ord oa ON pairs.a = oa.node
             JOIN ord ob ON pairs.b = ob.node
),
wedges AS (
  SELECT e1.hi AS v, e2.hi AS w
  FROM e e1 JOIN e e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
)
SELECT
  CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
  CAST((SELECT max(d) FROM deg) AS BIGINT) AS max_degree,
  CAST((SELECT count(*) FROM wedges) AS BIGINT) AS n_wedges,
  CAST((SELECT count(*) FROM wedges JOIN e
        ON wedges.v = e.lo AND wedges.w = e.hi) AS BIGINT) AS n_triangles
""",
    tags=("C1", "J9", "D1"),
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting on the part co-purchase graph
    (edge = two parts appear in the same order). Scale design: the
    pair expansion is bounded per order (TPC-H ≤ 7 lines/order, so
    O(rows) not O(rows²)); edges are then ORIENTED low→high by the
    total order (degree, node) — every wedge is enumerated only at its
    lowest-degree apex, which caps the join fan-out at the graph's
    arboricity instead of its max degree (the classic compact-forward
    guarantee; a celebrity node with degree 10⁶ contributes wedges
    only through its low-degree neighbors). Closing edges found by one
    equi-join. All joins shuffle on integer keys; no driver-side
    state.

    Round-11 (guide §3.3 "materialising an intermediate truncates the
    plan"): the four summary scalars share the pair/edge lineage, and
    Catalyst does not dedupe common subtrees across the crossJoined
    aggregates — the initial physical plan replicated the
    lineitem-self-join-distinct ~20x (174 Exchanges / 128 scans, zero
    ReusedExchange). `pairs` and the oriented edge list `e` are now
    localCheckpointed once — the standard triangle-counting shape
    (materialize the edge list, then join against it); every
    downstream consumer reads the materialized blocks. Counts are
    unchanged by construction (same relations, truncated lineage).

    Caveats of localCheckpoint (round-11 ADVICE, documented contract):
    it is EAGER — building this DataFrame executes the self-join/
    distinct at plan-construction time — and DISK_ONLY local-checkpoint
    blocks are non-recoverable on executor loss (the job fails instead
    of recomputing lineage). Acceptable for the single-JVM gate
    harness; a multi-executor deployment should swap in reliable
    checkpointing (sc.setCheckpointDir + .checkpoint()) at the same two
    call sites.

    Round-12 (guide §2.4, VERDICT r11 item 3): edge orientation no
    longer assigns a global dense rank via row_number() OVER (ORDER BY
    d, node) — a partition-less window is a single-partition global
    sort, the one serial stage in the query at scale. Edges are now
    oriented by comparing (d, node) structs directly (least/greatest;
    Spark orders structs lexicographically), which is the same total
    order the rank encoded, so every downstream comparison (wedge
    hi<hi, closing-edge equality) and therefore every count is
    identical — rank labels were order-isomorphic to the structs they
    ranked. Wedge/closing joins now key on the structs."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    l1 = li.alias("l1")
    l2 = li.alias("l2")
    pairs = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
        )
        .select(F.col("l1.l_partkey").alias("a"), F.col("l2.l_partkey").alias("b"))
        .distinct()
        # DISK_ONLY: the driver-faithful gate session runs a default
        # (1g) heap; deserialized MEMORY_AND_DISK blocks for the pair
        # set plus the wedge join OOM it at sf0.1. Disk blocks are
        # read back columnar-cheap and are still ~20x cheaper than
        # re-executing the self-join lineage per consumer.
        .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    )
    deg = (
        pairs.select(F.col("a").alias("node"))
        .unionAll(pairs.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    e = (
        pairs.join(deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("db")), "b")
        .select(
            F.least(F.struct(F.col("da").alias("d"), F.col("a").alias("n")),
                    F.struct(F.col("db").alias("d"), F.col("b").alias("n"))).alias("lo"),
            F.greatest(F.struct(F.col("da").alias("d"), F.col("a").alias("n")),
                       F.struct(F.col("db").alias("d"), F.col("b").alias("n"))).alias("hi"),
        )
        .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    )
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.lo") == F.col("e2.lo")) & (F.col("e1.hi") < F.col("e2.hi")),
    ).select(F.col("e1.hi").alias("v"), F.col("e2.hi").alias("w"))
    closing = e.select(F.col("lo").alias("v"), F.col("hi").alias("w"))
    tri = wedges.join(closing, ["v", "w"]).agg(F.count("*").alias("n_triangles"))
    summary = (
        e.agg(F.count("*").alias("n_edges"))
        .crossJoin(deg.agg(F.max("d").cast("bigint").alias("max_degree")))
        .crossJoin(wedges.agg(F.count("*").alias("n_wedges")))
        .crossJoin(tri)
    )
    return summary.select("n_edges", "max_degree", "n_wedges", "n_triangles")


@register(
    "q_repeat_purchase_curve",
    oracle="""
WITH per_cust AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
),
lv AS (SELECT unnest(range(1, 6)) AS at_least)
SELECT CAST(at_least AS BIGINT) AS at_least,
  CAST((SELECT count(*) FROM per_cust WHERE n_orders >= at_least) AS BIGINT)
    AS n_customers,
  CAST((SELECT count(*) FROM per_cust WHERE n_orders >= at_least) * 1000000
       // (SELECT count(*) FROM per_cust) AS BIGINT) AS share_ppm
FROM lv ORDER BY at_least
""",
    tags=("D1", "H5"),
)
def q_repeat_purchase_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase curve: the share of customers with ≥1..≥5
    orders — the loyalty funnel every retention team tracks. Computed
    without five scans: one per-customer count, then each customer row
    fans out to the thresholds it satisfies (explode over a ≤5-element
    sequence) and one aggregate counts every level; shares in integer
    ppm. The level table is a constant — the plan is scan → agg →
    generate → agg, all partial/final."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"])
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    total = per_cust.count()
    hit = (
        per_cust.filter(F.col("n_orders") >= 1)
        .select(
            F.explode(
                F.sequence(F.lit(1), F.least(F.col("n_orders"), F.lit(5)))
            ).alias("at_least")
        )
        .groupBy("at_least")
        .agg(F.count("*").alias("n_customers"))
    )
    levels = per_cust.sparkSession.range(1, 6).select(
        F.col("id").cast("int").alias("at_least")
    )
    return (
        levels.join(hit, "at_least", "left")
        .select(
            F.col("at_least").cast("long").alias("at_least"),
            F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
            # zero customers → NULL share (DuckDB // 0 is NULL, not an
            # ANSI abort)
            (
                F.expr(f"coalesce(n_customers, 0) * 1000000 div {total}")
                if total > 0
                else F.lit(None).cast("long")
            ).alias("share_ppm"),
        )
        .orderBy("at_least")
    )


@register(
    "q_network_reciprocity",
    oracle="""
WITH edges AS (
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
)
SELECT
  CAST(count(*) AS BIGINT) AS n_edges,
  CAST(count(*) FILTER (WHERE EXISTS (
    SELECT 1 FROM edges r WHERE r.src = edges.dst AND r.dst = edges.src
  )) AS BIGINT) AS n_reciprocated,
  CAST(count(*) FILTER (WHERE EXISTS (
    SELECT 1 FROM edges r WHERE r.src = edges.dst AND r.dst = edges.src
  )) * 1000000 // count(*) AS BIGINT) AS reciprocity_ppm
FROM edges
""",
    tags=("C4", "D1"),
)
def q_network_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the international trade graph: of the directed
    customer-nation → supplier-nation edges, what share flows both
    ways? The mutual-dependence measure trade economists start with.
    Edge build is the q5-style broadcast-dim join; reciprocation is a
    self semi-join on the swapped key pair (nation-grain — tiny).
    Integer ppm output."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(maybe_broadcast(c, sf_dir, "customer"), o["o_custkey"] == c["c_custkey"])
        .join(maybe_broadcast(s, sf_dir, "supplier"), li["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .distinct()
    )
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = edges.join(rev, ["src", "dst"], "left_semi")
    return edges.agg(F.count("*").alias("n_edges")).crossJoin(
        recip.agg(F.count("*").alias("n_reciprocated"))
    ).select(
        "n_edges",
        "n_reciprocated",
        # NULL (not an ANSI abort) on an empty edge set, matching
        # DuckDB's NULL-on-zero integer division
        F.when(
            F.col("n_edges") > 0,
            F.expr("n_reciprocated * 1000000 div n_edges"),
        ).alias("reciprocity_ppm"),
    )


@register(
    "q_price_index",
    oracle="""
WITH yr AS (
  SELECT p.p_brand AS brand, year(l.l_shipdate) AS y,
    sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS cents,
    sum(CAST(l.l_quantity AS BIGINT)) AS qty
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY brand, y
),
base AS (SELECT min(y) AS y0, max(y) AS y1 FROM yr),
px AS (
  SELECT b0.brand,
    b0.cents AS c0, b0.qty AS q0,
    b1.cents AS c1, b1.qty AS q1
  FROM yr b0 JOIN yr b1 ON b0.brand = b1.brand
  CROSS JOIN base
  WHERE b0.y = base.y0 AND b1.y = base.y1 AND b0.qty > 0 AND b1.qty > 0
)
SELECT
  CAST(count(*) AS BIGINT) AS n_brands,
  CAST(trunc(sum(CAST(trunc((c1::DECIMAL(38,0) * q0 * 1000000) / q1) AS BIGINT))
       / greatest(sum(c0), 1)) AS BIGINT) AS laspeyres_ppm,
  CAST(trunc((sum(c1)::DECIMAL(38,0) * 1000000)
       / greatest(sum(CAST(trunc((c0::DECIMAL(38,0) * q1) / q0) AS BIGINT)), 1))
       AS BIGINT) AS paasche_ppm
FROM px
""",
    tags=("D1", "C1"),
)
def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres and Paasche price indices between the first and last
    ship years over the brand basket: unit price per brand is
    cents/qty, and the index ratios are computed entirely in integer
    arithmetic — each brand's p1·q0 term is (c1/q1)·q0 expressed as
    c1·q0·10⁶ // q1 in micro-cents BEFORE summation, so no double
    ever forms and both engines agree bit-for-bit. The basket is the
    brand-year rollup (one fact scan + broadcast part dim); the index
    math runs on |brands| rows."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    yr = (
        li.join(maybe_broadcast(p, sf_dir, "part"), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"), F.year("l_shipdate").alias("y"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias(
                "cents"
            ),
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        )
    )
    base = yr.agg(F.min("y").alias("y0"), F.max("y").alias("y1"))
    b0 = yr.alias("b0")
    b1 = yr.alias("b1")
    px = (
        b0.join(b1, F.col("b0.brand") == F.col("b1.brand"))
        .crossJoin(F.broadcast(base))
        .filter(
            (F.col("b0.y") == F.col("y0"))
            & (F.col("b1.y") == F.col("y1"))
            & (F.col("b0.qty") > 0)
            & (F.col("b1.qty") > 0)
        )
        .select(
            F.col("b0.cents").alias("c0"),
            F.col("b0.qty").alias("q0"),
            F.col("b1.cents").alias("c1"),
            F.col("b1.qty").alias("q1"),
        )
    )
    return px.agg(
        F.count("*").alias("n_brands"),
        # decimal(38) cross-multiplication — the bigint products
        # overflow at sf0.1 (the d_sigma_bands lesson); Spark's decimal
        # `div` returns LONG, DuckDB needs trunc(a/b) (its `//` on
        # DECIMAL is a plain divide)
        F.expr(
            "sum(cast(c1 as decimal(38,0)) * q0 * 1000000 div q1)"
            " div greatest(sum(c0), 1)"
        ).cast("long").alias("laspeyres_ppm"),
        F.expr(
            "cast(sum(c1) as decimal(38,0)) * 1000000"
            " div greatest(sum(cast(c0 as decimal(38,0)) * q1 div q0), 1)"
        ).cast("long").alias("paasche_ppm"),
    )


@register(
    "q_capstone_report",
    oracle="""
WITH fact AS (
  SELECT r.r_name AS region, strftime(o.o_orderdate, '%Y-%m') AS month,
    p.p_brand AS brand,
    CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)
      AS cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer cu ON o.o_custkey = cu.c_custkey
  JOIN nation n ON cu.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
    AND o.o_orderdate < TIMESTAMP '1996-01-01'
),
rm AS (
  SELECT region, month, sum(cents) AS cents, count(*) AS n_lines
  FROM fact GROUP BY region, month
),
brand_rm AS (
  SELECT region, month, brand, sum(cents) AS bcents
  FROM fact GROUP BY region, month, brand
),
top_brand AS (
  SELECT region, month, brand AS top_brand
  FROM (
    SELECT region, month, brand,
      row_number() OVER (PARTITION BY region, month
                         ORDER BY bcents DESC, brand) AS rn
    FROM brand_rm
  ) WHERE rn = 1
),
shared AS (
  SELECT rm.region, rm.month, rm.cents, rm.n_lines,
    sum(rm.cents) OVER (PARTITION BY rm.region) AS region_total,
    row_number() OVER (PARTITION BY rm.region
                       ORDER BY rm.cents DESC, rm.month) AS month_rank
  FROM rm
)
SELECT s.region, s.month,
  CAST(s.cents AS BIGINT) AS cents,
  CAST(s.n_lines AS BIGINT) AS n_lines,
  CAST(s.cents * 1000000 // s.region_total AS BIGINT) AS share_ppm,
  CAST(s.month_rank AS BIGINT) AS month_rank,
  t.top_brand
FROM shared s JOIN top_brand t
  ON s.region = t.region AND s.month = t.month
WHERE s.month_rank <= 3
ORDER BY s.region, s.month_rank
""",
    tags=("C1", "C3", "E1", "D1", "F3"),
)
def q_capstone_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analyst's monster report in one plan: 1995 revenue at
    (region, month) grain through the full 6-table star, each
    region's top-3 months by revenue with their share of the region's
    year (integer ppm) and the best-selling brand of that month
    (rank-deterministic argmax). Composition audit: one fact scan
    feeds BOTH rollup grains; the dims broadcast; the share and rank
    windows reuse the region partitioning; the brand argmax is a
    window over the finer rollup, not a second scan. The kind of
    query every surface of §2 has to serve at once — scan pruning,
    broadcast joins, two-level aggregation, analytic windows,
    ranked top-k."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    cu = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    fact = (
        li.join(o.select("o_orderkey", "o_custkey", "o_orderdate"),
                li["l_orderkey"] == o["o_orderkey"])
        .join(maybe_broadcast(cu, sf_dir, "customer"), o["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(n), cu["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .join(maybe_broadcast(pt, sf_dir, "part"), li["l_partkey"] == pt["p_partkey"])
        .select(
            F.col("r_name").alias("region"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.col("p_brand").alias("brand"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
            .cast("long")
            .alias("cents"),
        )
    )
    brand_rm = fact.groupBy("region", "month", "brand").agg(
        F.sum("cents").alias("bcents"), F.count("*").alias("bn")
    )
    rm = brand_rm.groupBy("region", "month").agg(
        F.sum("bcents").alias("cents"), F.sum("bn").alias("n_lines")
    )
    wb = W.partitionBy("region", "month").orderBy(F.desc("bcents"), "brand")
    top_brand = (
        brand_rm.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("region", "month", F.col("brand").alias("top_brand"))
    )
    wr = W.partitionBy("region")
    shared = rm.select(
        "region",
        "month",
        "cents",
        "n_lines",
        F.sum("cents").over(wr).alias("region_total"),
        F.row_number().over(wr.orderBy(F.desc("cents"), "month")).alias(
            "month_rank"
        ),
    )
    return (
        shared.filter(F.col("month_rank") <= 3)
        .join(top_brand, ["region", "month"])
        .select(
            "region",
            "month",
            "cents",
            "n_lines",
            F.expr("cents * 1000000 div region_total").alias("share_ppm"),
            F.col("month_rank").cast("long").alias("month_rank"),
            "top_brand",
        )
        .orderBy("region", "month_rank")
    )


@register(
    "q_cross_elasticity_sign",
    oracle="""
WITH monthly AS (
  SELECT p.p_brand AS brand, strftime(l.l_shipdate, '%Y-%m') AS m,
    sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS cents,
    sum(CAST(l.l_quantity AS BIGINT)) AS qty
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand IN ('Brand#11', 'Brand#22')
  GROUP BY brand, m
),
px AS (
  SELECT a.m,
    a.cents * 1000 // a.qty AS price_a_milli,
    b.qty AS qty_b
  FROM monthly a JOIN monthly b ON a.m = b.m
  WHERE a.brand = 'Brand#11' AND b.brand = 'Brand#22'
    AND a.qty > 0 AND b.qty > 0
),
s AS (
  SELECT count(*) AS n,
    sum(CAST(price_a_milli AS BIGINT)) AS sx, sum(qty_b) AS sy,
    sum(CAST(price_a_milli AS BIGINT) * qty_b) AS sxy
  FROM (SELECT CAST(price_a_milli AS BIGINT) AS price_a_milli, qty_b FROM px)
)
SELECT
  CAST(n AS BIGINT) AS n_months,
  CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
  CAST(sign(n * sxy - sx * sy) AS BIGINT) AS relation_sign
FROM s
""",
    tags=("D8", "C1"),
)
def q_cross_elasticity_sign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-price relationship between two brands: does Brand#22's
    monthly volume move WITH Brand#11's unit price (substitutes,
    positive sign) or AGAINST it (complements, negative)? The
    covariance sign comes from the integer cross-product
    n·Σxy − Σx·Σy over (unit-price-milli, qty) month pairs — no
    division, no doubles, bit-exact verdict. Unit price is the
    integer milli-cents ratio per month (quantity-weighted). One
    broadcast-dim join + month rollup; the covariance runs on
    |months| rows."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    monthly = (
        li.join(maybe_broadcast(p, sf_dir, "part"), li["l_partkey"] == p["p_partkey"])
        .filter(F.col("p_brand").isin("Brand#11", "Brand#22"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_format("l_shipdate", "yyyy-MM").alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias(
                "cents"
            ),
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        )
    )
    a = monthly.filter(F.col("brand") == "Brand#11").select(
        "m", F.expr("cents * 1000 div qty").alias("price_a_milli"), F.col("qty")
    ).filter(F.col("qty") > 0)
    b = monthly.filter(F.col("brand") == "Brand#22").select(
        "m", F.col("qty").alias("qty_b")
    ).filter(F.col("qty_b") > 0)
    px = a.join(b, "m").select("price_a_milli", "qty_b")
    s = px.agg(
        F.count("*").alias("n"),
        F.sum("price_a_milli").alias("sx"),
        F.sum("qty_b").alias("sy"),
        F.sum(F.col("price_a_milli") * F.col("qty_b")).alias("sxy"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_months"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("long")
        .alias("cov_num"),
        F.signum(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        )
        .cast("long")
        .alias("relation_sign"),
    )


@register(
    "q_topn_other_rollup",
    oracle="""
WITH b AS (
  SELECT p.p_brand AS brand,
    sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY brand
),
ranked AS (
  SELECT brand, cents,
    row_number() OVER (ORDER BY cents DESC, brand) AS rn
  FROM b
),
folded AS (
  SELECT CASE WHEN rn <= 3 THEN brand ELSE 'OTHER' END AS label,
    cents
  FROM ranked
)
SELECT label,
  CAST(sum(cents) AS BIGINT) AS cents,
  CAST(sum(cents) * 1000000 // (SELECT sum(cents) FROM b) AS BIGINT)
    AS share_ppm
FROM folded GROUP BY label ORDER BY cents DESC, label
""",
    tags=("F3", "D1", "B6"),
)
def q_topn_other_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N + OTHER: the presentation fold every BI report applies to
    a long-tailed dimension — the top 3 brands by revenue keep their
    names, everything else collapses into one OTHER bucket, shares in
    integer ppm of the grand total. Deterministic membership via the
    full-key (cents, brand) rank. The fold happens at the ROLLUP
    grain (|brands| rows), never on the fact table — the tail
    collapse costs nothing at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(maybe_broadcast(p, sf_dir, "part"), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias(
                "cents"
            )
        )
    )
    ranked = b.withColumn(
        "rn", F.row_number().over(W.orderBy(F.desc("cents"), "brand"))
    )
    folded = ranked.select(
        F.when(F.col("rn") <= 3, F.col("brand")).otherwise("OTHER").alias("label"),
        "cents",
    )
    total = b.agg(F.sum("cents").alias("t"))
    return (
        folded.groupBy("label")
        .agg(F.sum("cents").alias("cents"))
        .crossJoin(F.broadcast(total))
        .select(
            "label",
            "cents",
            F.expr("cents * 1000000 div t").alias("share_ppm"),
        )
        .orderBy(F.desc("cents"), "label")
    )


@register(
    "q_decile_migration",
    oracle="""
WITH spend AS (
  SELECT o_custkey AS ck, year(o_orderdate) AS y,
    sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
  GROUP BY ck, y
),
deciles AS (
  SELECT ck, y,
    ntile(10) OVER (PARTITION BY y ORDER BY cents, ck) AS dec
  FROM spend
),
moves AS (
  SELECT a.dec AS from_dec, b.dec AS to_dec
  FROM deciles a JOIN deciles b ON a.ck = b.ck
  WHERE a.y = 1995 AND b.y = 1996
)
SELECT
  CAST(count(*) AS BIGINT) AS n_customers,
  CAST(count(*) FILTER (WHERE to_dec > from_dec) AS BIGINT) AS n_up,
  CAST(count(*) FILTER (WHERE to_dec < from_dec) AS BIGINT) AS n_down,
  CAST(count(*) FILTER (WHERE to_dec = from_dec) AS BIGINT) AS n_stable,
  CAST(count(*) FILTER (WHERE from_dec >= 9 AND to_dec <= 2) AS BIGINT)
    AS n_collapsed,
  CAST(sum(to_dec - from_dec) AS BIGINT) AS net_drift
FROM moves
""",
    tags=("E1", "C1", "D1"),
)
def q_decile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-decile migration 1995 → 1996 (round-5 fix: the original
    1994 → 1995 pair was vacuous — the orders fixture spans 1995-2001,
    so the entry measured an EMPTY transition set at every SF and
    stayed green only because the oracle agreed on the empty answer;
    caught by the independent-derivation sweep,
    tests/test_indep_growth_r5.py): every customer active in
    both years is ranked into spend deciles WITHIN each year
    (ntile(10) with full-key (cents, custkey) order — the rank-exact
    tie rule that makes decile membership deterministic), then the
    transition census: movers up, movers down, holders, and the
    top-to-bottom collapses a portfolio review flags first. The net
    drift sums to a number the two marginal distributions constrain —
    per-year deciles are near-uniform so the drift reflects real
    rank churn, not cohort size shift. Two rank windows on one year
    shuffle + a self-join on customer."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1995, 1996)
    )
    spend = o.groupBy(
        F.col("o_custkey").alias("ck"), F.year("o_orderdate").alias("y")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents")
    )
    deciles = spend.select(
        "ck",
        "y",
        F.ntile(10).over(W.partitionBy("y").orderBy("cents", "ck")).alias(
            "dec"
        ),
    )
    a = deciles.filter(F.col("y") == 1995).select(
        "ck", F.col("dec").alias("from_dec")
    )
    b = deciles.filter(F.col("y") == 1996).select(
        "ck", F.col("dec").alias("to_dec")
    )
    moves = a.join(b, "ck")
    return moves.agg(
        F.count("*").alias("n_customers"),
        F.count(F.when(F.col("to_dec") > F.col("from_dec"), 1)).alias("n_up"),
        F.count(F.when(F.col("to_dec") < F.col("from_dec"), 1)).alias("n_down"),
        F.count(F.when(F.col("to_dec") == F.col("from_dec"), 1)).alias(
            "n_stable"
        ),
        F.count(
            F.when((F.col("from_dec") >= 9) & (F.col("to_dec") <= 2), 1)
        ).alias("n_collapsed"),
        F.sum(F.col("to_dec") - F.col("from_dec")).alias("net_drift"),
    )


@register(
    "q_price_change_census",
    oracle="""
WITH monthly AS (
  SELECT l_partkey AS pk, strftime(l_shipdate, '%Y-%m') AS m,
    sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
      // sum(CAST(l_quantity AS BIGINT)) AS unit_cents
  FROM lineitem WHERE l_quantity > 0
  GROUP BY pk, m
),
changes AS (
  SELECT pk, m, unit_cents,
    lag(unit_cents) OVER (PARTITION BY pk ORDER BY m) AS prev_cents
  FROM monthly
),
flagged AS (
  SELECT pk,
    CASE WHEN prev_cents IS NOT NULL AND unit_cents <> prev_cents
         THEN 1 ELSE 0 END AS changed,
    CASE WHEN prev_cents IS NOT NULL AND prev_cents > 0
         THEN abs(unit_cents - prev_cents) * 1000000 // prev_cents
         ELSE 0 END AS jump_ppm
  FROM changes
)
SELECT
  CAST(count(DISTINCT pk) AS BIGINT) AS n_parts,
  CAST(sum(changed) AS BIGINT) AS n_repricings,
  CAST(max(jump_ppm) AS BIGINT) AS max_jump_ppm,
  CAST(count(DISTINCT CASE WHEN changed = 1 THEN pk END) AS BIGINT)
    AS n_parts_repriced
FROM flagged
""",
    tags=("E2", "D1"),
)
def q_price_change_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repricing census: per part, the month-over-month UNIT price
    (integer cents ratio at month grain) compared to its previous
    month via lag — how many repricing events occurred, how many
    parts were ever repriced, and the largest single jump in ppm of
    the prior price. Price-integrity monitors alert on exactly this
    shape (a level query can't see a 40% overnight jump that lands
    back within the normal range). One part-key shuffle serves the
    month rollup and the lag window."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    monthly = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.date_format("l_shipdate", "yyyy-MM").alias("m"),
    ).agg(
        F.expr(
            "sum(cast(round(l_extendedprice * 100, 0) as bigint))"
            " div sum(cast(l_quantity as bigint))"
        ).alias("unit_cents")
    )
    w = W.partitionBy("pk").orderBy("m")
    changes = monthly.withColumn("prev_cents", F.lag("unit_cents").over(w))
    flagged = changes.select(
        "pk",
        F.when(
            F.col("prev_cents").isNotNull()
            & (F.col("unit_cents") != F.col("prev_cents")),
            1,
        )
        .otherwise(0)
        .alias("changed"),
        F.when(
            F.col("prev_cents").isNotNull() & (F.col("prev_cents") > 0),
            F.expr("abs(unit_cents - prev_cents) * 1000000 div prev_cents"),
        )
        .otherwise(0)
        .alias("jump_ppm"),
    )
    return flagged.agg(
        F.countDistinct("pk").alias("n_parts"),
        F.sum("changed").alias("n_repricings"),
        F.max("jump_ppm").alias("max_jump_ppm"),
        F.countDistinct(F.when(F.col("changed") == 1, F.col("pk"))).alias(
            "n_parts_repriced"
        ),
    )
