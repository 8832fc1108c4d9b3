"""L-family entries: feature-engineering composites (assembly, target
encoding, quantile binning, grouped splits, hashed crosses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.functions.timeutil import epoch_us
from parking_violations_data_pipeline_spark.registry import register


@register(
    "l_feature_assembly",
    oracle="""
WITH o AS (
  SELECT event_id, user_id, epoch_us(ts) AS us, event_type, value,
    last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click,
    count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
            RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) - 1 AS n_1h,
    sum(CASE WHEN event_type = 'purchase'
             THEN CAST(round(value * 100) AS BIGINT) END)
      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_cents
  FROM events WHERE ts IS NOT NULL
)
SELECT event_id,
  round(coalesce(prev_click, -1.0), 2)          AS prev_click,
  CAST(n_1h AS BIGINT)                          AS n_1h,
  CAST(coalesce(prior_cents, 0) AS BIGINT)      AS prior_cents
FROM o WHERE event_type = 'purchase' ORDER BY event_id
""",
    tags=("E2", "E3", "C8", "L"),
)
def l_feature_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature assembly: for every purchase
    event, attach (a) the user's most recent PRIOR click value, (b)
    event count in the trailing hour, (c) cumulative prior purchase
    spend — the leakage-free training-example builder (every frame
    ends at 1 PRECEDING / current row, never looks ahead).

    All three features ride ONE shuffle on user_id; the three window
    frames reuse the same sort. Money in exact integer cents, time in
    integer µs, so no float drift can flip a frame boundary.
    """
    # point-in-time features need a total event-time order; NULL ts
    # rows have no position in it — dropped on both sides
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    us = epoch_us("ts")
    w_rows = W.partitionBy("user_id").orderBy(us, "event_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    w_range = W.partitionBy("user_id").orderBy(us).rangeBetween(-3_600_000_000, 0)
    cents = F.when(
        F.col("event_type") == "purchase",
        F.round(F.col("value") * 100).cast("long"),
    )
    o = e.select(
        "event_id",
        "event_type",
        F.last(
            F.when(F.col("event_type") == "click", F.col("value")), ignorenulls=True
        ).over(w_rows).alias("prev_click"),
        (F.count("*").over(w_range) - 1).alias("n_1h"),
        F.sum(cents).over(w_rows).alias("prior_cents"),
    )
    return (
        o.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.round(F.coalesce(F.col("prev_click"), F.lit(-1.0)), 2).alias(
                "prev_click"
            ),
            F.col("n_1h").cast("long").alias("n_1h"),
            F.coalesce(F.col("prior_cents"), F.lit(0)).cast("long").alias(
                "prior_cents"
            ),
        )
        .orderBy("event_id")
    )


@register(
    "l_target_encode_loo",
    oracle="""
WITH t AS (
  SELECT o_orderpriority AS cat,
         CAST(round(o_totalprice * 100) AS BIGINT) AS y
  FROM orders
),
cat_stats AS (
  SELECT cat, CAST(count(*) AS BIGINT) AS n_c,
         CAST(sum(y) AS BIGINT) AS sum_c
  FROM t GROUP BY cat
),
gstat AS (
  SELECT CAST(sum(y) AS BIGINT) * 1.0 / count(*) AS g FROM t
),
enc AS (
  SELECT t.cat,
         (cs.sum_c - t.y + 10 * gstat.g) / (cs.n_c - 1 + 10) AS te
  FROM t JOIN cat_stats cs ON t.cat = cs.cat, gstat
)
SELECT cat,
  CAST(count(*) AS BIGINT) AS n,
  min(te)                  AS te_min,
  max(te)                  AS te_max
FROM enc GROUP BY cat ORDER BY cat
""",
    tags=("D1", "C3", "K1"),
)
def l_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding with additive smoothing (m=10
    pseudo-observations of the global mean) — the category feature
    that does NOT leak the row's own label: each row's encoding
    averages every OTHER row's target in its category, shrunk toward
    the global mean. The naive per-category mean is the classic
    train-time leak.

    Scale shape: category stats are a 5-row aggregate BROADCAST back
    onto the fact (never a per-category window, which would put one
    category's full 20 TB in one partition); the global mean is a
    1-row broadcast. te is derived per-row from exact cent integers
    through the identical expression on both engines, so min/max —
    order-independent statistics — are bit-identical without rounding.
    """
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        F.col("o_orderpriority").alias("cat"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("y"),
    )
    cat_stats = t.groupBy("cat").agg(
        F.count("*").alias("n_c"), F.sum("y").alias("sum_c")
    )
    glob = t.agg((F.sum("y") * 1.0 / F.count("*")).alias("g"))
    te = (F.col("sum_c") - F.col("y") + 10 * F.col("g")) / (
        F.col("n_c") - 1 + 10
    )
    enc = (
        t.join(F.broadcast(cat_stats), "cat")
        .crossJoin(F.broadcast(glob))
        .select("cat", te.alias("te"))
    )
    return (
        enc.groupBy("cat")
        .agg(
            F.count("*").alias("n"),
            F.min("te").alias("te_min"),
            F.max("te").alias("te_max"),
        )
        .orderBy("cat")
    )


@register(
    "l_quantile_binning",
    oracle="""
WITH t AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
),
grain AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY cents
),
cum AS (
  SELECT cents, n,
    sum(n) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS cumn,
    sum(n) OVER () AS tot
  FROM grain
),
binned AS (
  SELECT cents, n, CAST((cumn * 4 + tot - 1) // tot AS BIGINT) AS bin FROM cum
)
SELECT bin,
  CAST(sum(n) AS BIGINT) AS n_rows,
  CAST(min(cents) AS BIGINT) AS min_cents,
  CAST(max(cents) AS BIGINT) AS max_cents
FROM binned GROUP BY bin ORDER BY bin
""",
    tags=("D5", "E3", "B6"),
)
def l_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth quantile binning (4 bins) for feature
    discretization, with tie-coherence: all rows sharing a value land
    in the same bin (ntile would split ties arbitrarily across bins —
    a nondeterminism source AND a subtle train/serve skew, since
    serving maps a VALUE to a bin). bin = ceil(4·cum/total) in exact
    integer arithmetic.

    Scale shape: the prefix sum runs at DISTINCT-VALUE grain (the
    compressed series), not over raw rows — same pattern as
    d_weighted_median. A 100 TB column with 10M distinct values
    windows over 10M rows, not 10^12.
    """
    o = load_table(spark, sf_dir, "orders")
    grain = (
        o.select(F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"))
        .groupBy("cents")
        .agg(F.count("*").alias("n"))
    )
    cum = grain.select(
        "cents",
        "n",
        F.sum("n").over(W.orderBy("cents").rowsBetween(W.unboundedPreceding, 0)).alias("cumn"),
        F.sum("n").over(W.partitionBy()).alias("tot"),
    )
    binned = cum.select(
        "cents", "n", F.expr("(cumn * 4 + tot - 1) div tot").alias("bin")
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.sum("n").alias("n_rows"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .orderBy("bin")
    )


@register(
    "l_grouped_split",
    oracle="""
WITH hashed AS (
  SELECT user_id, event_id,
    (
      (ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1))
        - CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) >= 97 THEN 87 ELSE 48 END) * 4096
      + (ascii(substr(md5(CAST(user_id AS VARCHAR)), 2, 1))
        - CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)), 2, 1)) >= 97 THEN 87 ELSE 48 END) * 256
      + (ascii(substr(md5(CAST(user_id AS VARCHAR)), 3, 1))
        - CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)), 3, 1)) >= 97 THEN 87 ELSE 48 END) * 16
      + (ascii(substr(md5(CAST(user_id AS VARCHAR)), 4, 1))
        - CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)), 4, 1)) >= 97 THEN 87 ELSE 48 END)
    ) % 100 AS bucket
  FROM events
),
labeled AS (
  SELECT user_id, event_id,
         CASE WHEN bucket < 80 THEN 'train' ELSE 'test' END AS split
  FROM hashed
),
leak AS (
  SELECT CAST(count(*) AS BIGINT) AS n_leaky_users FROM (
    SELECT user_id FROM labeled GROUP BY user_id
    HAVING count(DISTINCT split) > 1
  )
)
SELECT split,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(count(*) AS BIGINT)                AS n_rows,
  (SELECT n_leaky_users FROM leak)        AS n_leaky_users
FROM labeled GROUP BY split ORDER BY split
""",
    tags=("H4", "G3", "F2"),
)
def l_grouped_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic GROUPED train/test split: the split key is a hash
    of user_id, so every event of a user lands in the same split — the
    partition discipline that prevents user-level leakage between
    train and eval (a row-level random split leaks user behavior
    across the boundary). 80/20 by md5 bucket; seedless, stable across
    runs, engines, and re-partitioning.

    The bucket derives from the first 4 hex chars of md5 via explicit
    ascii arithmetic because that's the one hash both engines compute
    identically (Spark xxhash64 has no DuckDB twin). The leakage audit
    (users with >1 distinct split — structurally 0, but MEASURED) is
    the point: it's the check a pipeline runs after any split logic
    change.
    """
    e = load_table(spark, sf_dir, "events")
    h = F.md5(F.col("user_id").cast("string"))

    def hexdigit(i: int):
        a = F.ascii(F.substring(h, i, 1))
        return a - F.when(a >= 97, 87).otherwise(48)

    bucket = (
        hexdigit(1) * 4096 + hexdigit(2) * 256 + hexdigit(3) * 16 + hexdigit(4)
    ) % 100
    labeled = e.select(
        "user_id",
        "event_id",
        F.when(bucket < 80, "train").otherwise("test").alias("split"),
    )
    leak = (
        labeled.groupBy("user_id")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .agg(F.count("*").alias("n_leaky_users"))
    )
    return (
        labeled.groupBy("split")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_rows"),
        )
        .crossJoin(F.broadcast(leak))
        .select("split", "n_users", "n_rows", "n_leaky_users")
        .orderBy("split")
    )


@register(
    "l_hashed_cross",
    oracle="""
WITH crossed AS (
  SELECT c.c_custkey,
    c.c_mktsegment || '#' || n.n_name AS cross_val,
    md5(c.c_mktsegment || '#' || n.n_name) AS h
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
),
bucketed AS (
  SELECT c_custkey, cross_val,
    ((ascii(substr(h, 1, 1)) - CASE WHEN ascii(substr(h, 1, 1)) >= 97 THEN 87 ELSE 48 END) * 16
     + (ascii(substr(h, 2, 1)) - CASE WHEN ascii(substr(h, 2, 1)) >= 97 THEN 87 ELSE 48 END)
    ) % 64 AS bucket
  FROM crossed
)
SELECT CAST(bucket AS BIGINT) AS bucket,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(DISTINCT cross_val) AS BIGINT) AS n_crosses
FROM bucketed GROUP BY bucket ORDER BY bucket
""",
    tags=("L", "H4", "J13"),
)
def l_hashed_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick for categorical feature crosses: the
    (market segment × nation) cross — 125 raw combinations — is
    hashed into 64 buckets, the fixed-width representation a model
    trains on without a vocabulary build. Output is the per-bucket
    load table: row count plus DISTINCT source crosses per bucket,
    which MEASURES the collision rate the dimensionality squeeze
    introduced (n_crosses > 1 ⇒ features aliased together) — the
    audit that decides whether 64 buckets is too few. Bucket = first
    two md5 hex digits mod 64 via explicit ascii arithmetic, the one
    hash both engines share; nation is a broadcast dim join.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    # concat (NULL-propagating, like the oracle's ||), NOT concat_ws:
    # a NULL segment/name must produce a NULL cross (unbucketable),
    # not silently collapse to the other field's hash
    crossed = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        F.concat(F.col("c_mktsegment"), F.lit("#"), F.col("n_name")).alias(
            "cross_val"
        )
    )
    h = F.md5(F.col("cross_val"))

    def hexdigit(i: int):
        a = F.ascii(F.substring(h, i, 1))
        return a - F.when(a >= 97, 87).otherwise(48)

    bucket = (hexdigit(1) * 16 + hexdigit(2)) % 64
    return (
        crossed.withColumn("bucket", bucket.cast("long"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("cross_val").alias("n_crosses"),
        )
        .orderBy("bucket")
    )
