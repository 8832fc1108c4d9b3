"""Round-8 widening: geospatial analytics family (geo_*).

The engine's domain (parking violations) is inherently geospatial, yet
the fixture tables carry no coordinates — so every entry here derives
a DETERMINISTIC (lat, lon) from event_id with integer-mod arithmetic
that Spark and DuckDB evaluate bit-identically (no hash functions, no
libm in the derivation), then runs a real spatial plan on top:

  * grid hotspots        — integer cell binning, one hash agg, top-k
  * nearest-zone assign  — argmin over an ARRAY-LITERAL fold: the
    centroid set rides inside the row expression, so assignment needs
    ZERO shuffle and no crossJoin (array_min on struct(d2, zone_id))
  * bbox join            — broadcast nested-loop range join (tiny dim)
  * trip segments        — per-user lag window + haversine, integer-
    meter sums so cross-engine libm ulps can't flap the hash
  * point-in-polygon     — ray casting folded over an edge-array
    literal (again zero shuffle until the final tiny agg)
  * grid kNN             — neighbor-cell EQUI-join (explode 3x3 ring),
    the scale path that replaces a full scan per query point
  * density core points  — DBSCAN-style core census via neighbor-cell
    self-join on a fine grid (pair count is linear in data for
    bounded density, never all-pairs)

IEEE determinism contract: the coordinate derivation and every
distance used for ORDERING or BUCKETING is +,-,*,/,sqrt only (each
correctly rounded per IEEE 754, hence bit-identical across engines
given the same expression order — both sides share the same textual
fragments below). Transcendental haversine (sin/cos/asin may differ
by an ulp between JVM and libm) is only ever REPORTED, and then only
after rounding to integer metres.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import fixture_bytes
from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.functions.localrel import local_df
from parking_violations_data_pipeline_spark.registry import register

# Deterministic coordinate derivation (Philadelphia-ish box:
# lat in [39.87, 40.14), lon in [-75.28, -74.96)). Two distinct prime
# moduli decorrelate the axes, and a Lehmer-style multiplicative mix
# ((e % m) * g) % m spreads SEQUENTIAL ids across the whole box
# (without it, ids 0..99999 < m map to a degenerate sliver covering
# one grid cell). Reduce-BEFORE-multiply keeps every intermediate
# below m * g < 2^47, so nothing overflows int64 even for
# int64-extreme ids (ANSI mode would error, not wrap); the final
# (x + m) % m is the portable non-negative mod (Spark and DuckDB %
# both take the sign of the dividend).
# Every fractional literal is CAST(... AS DOUBLE): Spark SQL parses a
# bare `39.87` as DECIMAL(4,2) (Hive convention) and would silently run
# the derivation in decimal arithmetic while DuckDB promotes to double
# — the first gate run caught exactly that as a 4th-decimal avg drift.
# The CAST spelling is valid and double-typed in BOTH engines, keeping
# the shared fragments bit-identical.
LAT_SQL = (
    "CAST(39.87 AS DOUBLE)"
    " + (((((event_id % 1000003) * 48271) % 1000003) + 1000003) % 1000003)"
    " / CAST(1000003.0 AS DOUBLE) * CAST(0.27 AS DOUBLE)"
)
LON_SQL = (
    "CAST(-75.28 AS DOUBLE)"
    " + (((((event_id % 999983) * 69621) % 999983) + 999983) % 999983)"
    " / CAST(999983.0 AS DOUBLE) * CAST(0.32 AS DOUBLE)"
)

# Grid cells: 0.01 deg resolution -> 32 lon-cells x 27 lat-cells.
CX_SQL = (
    "CAST(floor((lon - CAST(-75.28 AS DOUBLE)) / CAST(0.01 AS DOUBLE)) AS INT)"
)
CY_SQL = (
    "CAST(floor((lat - CAST(39.87 AS DOUBLE)) / CAST(0.01 AS DOUBLE)) AS INT)"
)

_PTS_ORACLE = f"""
SELECT event_id, user_id, event_type, value, ts,
       {LAT_SQL} AS lat, {LON_SQL} AS lon
FROM events WHERE event_id IS NOT NULL
"""


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + derived (lat, lon); the shared scan for the family."""
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id").isNotNull())
        .withColumn("lat", F.expr(LAT_SQL))
        .withColumn("lon", F.expr(LON_SQL))
    )


@register(
    "geo_grid_hotspots",
    oracle=f"""
WITH pts AS ({_PTS_ORACLE}),
cells AS (
  SELECT {CX_SQL} AS cx, {CY_SQL} AS cy, user_id, value
  FROM pts
)
SELECT CAST(cy * 32 + cx AS INT) AS cell_id, cx, cy,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  round(sum(value), 2) AS sum_value,
  round(39.87 + (cy + 0.5) * 0.01, 4) AS center_lat,
  round(-75.28 + (cx + 0.5) * 0.01, 4) AS center_lon
FROM cells GROUP BY cx, cy
ORDER BY n_events DESC, cell_id LIMIT 20
""",
    tags=("M1", "D1", "F3", "H3"),
)
def geo_grid_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial hotspot census: bin events into 0.01-degree grid cells
    (integer-exact floor binning on an IEEE-deterministic derivation)
    and rank the densest 20. The plan is one partial+final hash agg on
    the cell key followed by TakeOrderedAndProject — the same shape a
    1000-executor cluster would want at 100 TB (cell cardinality is
    bounded at 864, so the final agg is trivially small no matter the
    data volume). Deterministic tie-break: cell_id ascending."""
    pts = _points(spark, sf_dir)
    return (
        pts.withColumn("cx", F.expr(CX_SQL))
        .withColumn("cy", F.expr(CY_SQL))
        .groupBy("cx", "cy")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            (F.col("cy") * 32 + F.col("cx")).cast("int").alias("cell_id"),
            "cx",
            "cy",
            "n_events",
            "n_users",
            "sum_value",
            F.round(39.87 + (F.col("cy") + 0.5) * 0.01, 4).alias("center_lat"),
            F.round(-75.28 + (F.col("cx") + 0.5) * 0.01, 4).alias("center_lon"),
        )
        .orderBy(F.desc("n_events"), "cell_id")
        .limit(20)
    )


@register(
    "geo_hotspots_approx",
    oracle=f"""
WITH pts AS ({_PTS_ORACLE}),
cells AS (
  SELECT {CX_SQL} AS cx, {CY_SQL} AS cy, user_id, value
  FROM pts
)
SELECT CAST(cy * 32 + cx AS INT) AS cell_id,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
  TRUE AS ok
FROM cells GROUP BY cx, cy
ORDER BY n_events DESC, cell_id LIMIT 20
""",
    tags=("M8", "M1", "D3", "F3"),
)
def geo_hotspots_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured 100-TB path for the hotspot census (round-8 scale
    attribution: 96% of geo_grid_hotspots' 1000× runtime is the
    (cell,user) exact-distinct Expand+shuffle, whose pair mass grows
    with rows). HyperLogLog++ replaces it with one ordinary hash agg —
    NO Expand operator in the plan (pinned in tests/test_geo_r9.py) —
    and the sketch is mergeable, so the partial aggregate still
    collapses to ≤864 cells map-side at any data volume. Ranking stays
    on the EXACT n_events count; the estimator only feeds the per-cell
    user statistic, emitted next to the exact twin with the in-plan
    tolerance invariant the d_approx_* family uses (|approx−exact| ≤
    max(2, 5%·exact); estimator internals differ across engines by
    design, so the oracle reproduces exact + TRUE).

    Note the GATE plan still carries the exact countDistinct — that is
    the tolerance harness, not the production shape. The exact and
    approx statistics are computed in SEPARATE aggregations joined on
    the (bounded, ≤864-cell) key: a single mixed agg plans the exact
    distinct via (cx,cy,user_id) re-grouping and then drags the
    ~400-word HLL sketch buffer through every one of those pair groups
    — measured 24 s vs 2.3 s exact-alone and 0.27 s approx-alone on
    the 100× replica, a 10× regression the split avoids entirely. The
    production shape (approx only, one hash agg) is what
    tests/test_geo_r9.py plan-pins."""
    pts = _points(spark, sf_dir)
    cells = pts.withColumn("cx", F.expr(CX_SQL)).withColumn(
        "cy", F.expr(CY_SQL)
    )
    exact = cells.groupBy("cx", "cy").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    approx = cells.groupBy("cx", "cy").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
    )
    return (
        exact.join(approx, ["cx", "cy"])
        .select(
            (F.col("cy") * 32 + F.col("cx")).cast("int").alias("cell_id"),
            "n_events",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.greatest(F.lit(2), 0.05 * F.col("exact_users"))
            ).alias("ok"),
        )
        .orderBy(F.desc("n_events"), "cell_id")
        .limit(20)
    )


# Zone centroids (zone_id, name, clat, clon). 0.766 ~= cos(40 deg)
# flattens longitude for the equirectangular metric; 111.32 km/deg
# converts to kilometres for reporting.
_ZONES = (
    (1, "center_city", 39.952, -75.165),
    (2, "university_city", 39.952, -75.193),
    (3, "south_philly", 39.918, -75.168),
    (4, "north_philly", 40.010, -75.140),
    (5, "kensington", 39.990, -75.120),
    (6, "manayunk", 40.025, -75.225),
    (7, "airport", 39.876, -75.245),
    (8, "northeast", 40.085, -75.010),
)


def _d2_sql(clat: float, clon: float) -> str:
    ca = f"CAST({clat!r} AS DOUBLE)"
    co = f"CAST({clon!r} AS DOUBLE)"
    k = "CAST(0.766 AS DOUBLE)"
    return (
        f"(lat - {ca}) * (lat - {ca}) + "
        f"((lon - {co}) * {k}) * ((lon - {co}) * {k})"
    )


_ZONES_VALUES = ",\n  ".join(
    f"({zid}, '{name}', CAST({clat!r} AS DOUBLE), CAST({clon!r} AS DOUBLE))"
    for zid, name, clat, clon in _ZONES
)

_ZNAME_CASE = "CASE zone_id " + " ".join(
    f"WHEN {zid} THEN '{name}'" for zid, name, _, _ in _ZONES
) + " END"


def _zone_struct() -> F.Column:
    """array_min over struct(d2, zone_id) literals: the ZERO-shuffle
    nearest-centroid argmin (struct ordering is lexicographic, so ties
    break on zone_id — matching ORDER BY d2, zone_id)."""
    return F.array_min(
        F.array(
            *[
                F.struct(
                    F.expr(_d2_sql(clat, clon)).alias("d2"),
                    F.lit(zid).alias("zone_id"),
                )
                for zid, _, clat, clon in _ZONES
            ]
        )
    )


@register(
    "geo_zone_assign",
    oracle=f"""
WITH pts AS ({_PTS_ORACLE}),
zones(zone_id, zname, clat, clon) AS (VALUES
  {_ZONES_VALUES}),
-- rid tags each PHYSICAL row: partitioning the argmin by event_id
-- would silently merge duplicate event_ids (the dupkeys fixture),
-- assigning one zone where the engine assigns every row its own.
rows_ AS (SELECT *, row_number() OVER () AS rid FROM pts),
d AS (
  SELECT p.rid, p.user_id, p.value, z.zone_id, z.zname,
    (p.lat - z.clat) * (p.lat - z.clat)
      + ((p.lon - z.clon) * 0.766) * ((p.lon - z.clon) * 0.766) AS d2
  FROM rows_ p CROSS JOIN zones z
),
a AS (
  SELECT *, row_number() OVER (PARTITION BY rid ORDER BY d2, zone_id) AS rn
  FROM d
)
SELECT zone_id, zname,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  round(avg(sqrt(d2) * 111.32), 4) AS avg_km,
  round(sum(value), 2) AS sum_value
FROM a WHERE rn = 1
GROUP BY zone_id, zname ORDER BY zone_id
""",
    tags=("M2", "C3", "H3", "H5"),
)
def geo_zone_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid zone assignment WITHOUT a join: the 8-zone
    centroid set rides inside the row expression as an array of
    struct(d2, zone_id) literals and `array_min` picks the argmin
    (struct ordering = lexicographic, so ties break on zone_id
    exactly like the oracle's ORDER BY d2, zone_id). Zero shuffle
    until the final 8-group agg — at 100 TB this is a map-only pass,
    where the textbook crossJoin+window plan would shuffle 8x the
    fact table. The equirectangular metric is +,-,* only (bitwise
    identical cross-engine); km is reported via sqrt (IEEE-exact) and
    rounded. The DuckDB oracle keeps the textbook crossJoin+window
    shape on the same arithmetic — different plan, same algebra."""
    pts = _points(spark, sf_dir)
    best = _zone_struct()
    return (
        pts.withColumn("zone_id", best["zone_id"])
        .withColumn("d2", best["d2"])
        .groupBy("zone_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.avg(F.sqrt("d2") * 111.32), 4).alias("avg_km"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "zone_id",
            F.expr(_ZNAME_CASE).alias("zname"),
            "n_events",
            "n_users",
            "avg_km",
            "sum_value",
        )
        .orderBy("zone_id")
    )


# Enforcement zones as (deliberately overlapping) bounding boxes:
# (box_id, name, lat_lo, lat_hi, lon_lo, lon_hi).
_BOXES = (
    (1, "river_west", 39.90, 39.99, -75.25, -75.10),
    (2, "midtown", 39.95, 40.05, -75.20, -75.05),
    (3, "north_band", 40.00, 40.14, -75.28, -75.00),
    (4, "east_edge", 39.87, 40.14, -75.10, -74.96),
    (5, "core_overlap", 39.92, 40.02, -75.18, -75.08),
)

_BOXES_VALUES = ",\n  ".join(
    f"({bid}, '{name}', CAST({a!r} AS DOUBLE), CAST({b!r} AS DOUBLE), "
    f"CAST({c!r} AS DOUBLE), CAST({d!r} AS DOUBLE))"
    for bid, name, a, b, c, d in _BOXES
)


@register(
    "geo_bbox_join",
    oracle=f"""
WITH pts AS ({_PTS_ORACLE}),
boxes(box_id, bname, lat_lo, lat_hi, lon_lo, lon_hi) AS (VALUES
  {_BOXES_VALUES}),
tot AS (SELECT count(*) AS n_total FROM pts),
hits AS (
  SELECT b.box_id, b.bname, p.user_id, p.value
  FROM pts p JOIN boxes b
    ON p.lat BETWEEN b.lat_lo AND b.lat_hi
   AND p.lon BETWEEN b.lon_lo AND b.lon_hi
)
SELECT h.box_id, h.bname,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(count(DISTINCT h.user_id) AS BIGINT) AS n_users,
  round(sum(h.value), 2) AS sum_value,
  CAST(floor(count(*) * 1000000 / max(t.n_total)) AS BIGINT) AS coverage_ppm
FROM hits h CROSS JOIN tot t
GROUP BY h.box_id, h.bname ORDER BY h.box_id
""",
    tags=("M3", "C7", "C3"),
)
def geo_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounding-box containment join: 5 overlapping enforcement zones
    (a point can land in several — it's a range JOIN, not a bucketing)
    against the event stream. The zone side is 5 literal rows, so the
    right plan is a BroadcastNestedLoopJoin with the range predicate
    evaluated map-side — no shuffle of the fact table at any scale.
    Coverage is reported in integer ppm of total events (exact
    integer division on both engines). Empty-input safe: zero rows on
    both sides."""
    pts = _points(spark, sf_dir)
    boxes = local_df(
        spark,
        list(_BOXES),
        "box_id INT, bname STRING, lat_lo DOUBLE, lat_hi DOUBLE, "
        "lon_lo DOUBLE, lon_hi DOUBLE",
    )
    total = pts.agg(F.count("*").alias("n_total"))
    hits = pts.join(
        F.broadcast(boxes),
        on=(
            F.col("lat").between(F.col("lat_lo"), F.col("lat_hi"))
            & F.col("lon").between(F.col("lon_lo"), F.col("lon_hi"))
        ),
        how="inner",
    )
    return (
        hits.crossJoin(F.broadcast(total))
        .groupBy("box_id", "bname")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            # floor() on BOTH sides: a bare double->bigint CAST
            # truncates in Spark but rounds-to-nearest in DuckDB
            # (dupkeys flushed 666666 vs 666667 on a 2/3 fraction).
            F.floor(F.count("*") * 1000000 / F.max("n_total"))
            .cast("bigint")
            .alias("coverage_ppm"),
        )
        .orderBy("box_id")
    )


# Haversine in km between (lat1,lon1) and (lat2,lon2), all degrees.
# Used for REPORTING only (rounded to integer metres before any
# aggregation) — sin/cos/asin may differ by an ulp across engines.
_HAV_KM = (
    "CAST(2.0 AS DOUBLE) * asin(sqrt("
    "sin((lat - plat) * pi() / CAST(360.0 AS DOUBLE))"
    " * sin((lat - plat) * pi() / CAST(360.0 AS DOUBLE))"
    " + cos(plat * pi() / CAST(180.0 AS DOUBLE))"
    " * cos(lat * pi() / CAST(180.0 AS DOUBLE))"
    " * sin((lon - plon) * pi() / CAST(360.0 AS DOUBLE))"
    " * sin((lon - plon) * pi() / CAST(360.0 AS DOUBLE))"
    ")) * CAST(6371.0 AS DOUBLE)"
)


@register(
    "geo_trip_segments",
    oracle=f"""
WITH pts AS ({_PTS_ORACLE}),
seq AS (
  SELECT user_id, lat, lon,
    lag(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plat,
    lag(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plon
  FROM pts WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
seg AS (
  SELECT user_id,
    CAST(round(({_HAV_KM}) * 1000.0, 0) AS BIGINT) AS seg_m
  FROM seq WHERE plat IS NOT NULL
)
SELECT user_id,
  CAST(count(*) AS BIGINT) AS n_segments,
  CAST(sum(seg_m) AS BIGINT) AS total_m,
  CAST(max(seg_m) AS BIGINT) AS max_seg_m
FROM seg GROUP BY user_id
ORDER BY total_m DESC, user_id LIMIT 15
""",
    tags=("M4", "E2", "H3"),
)
def geo_trip_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user movement reconstruction: order each user's events by
    (ts, event_id) — the event_id tie-break keeps lag() deterministic
    under duplicate timestamps — lag the coordinates, and measure each
    hop with the real haversine formula. Every segment is rounded to
    integer METRES before any aggregation, so the bigint sums are
    exact and cross-engine libm ulps (~1e-11 m here) cannot flap the
    value hash. One shuffle on user_id serves the window and the agg
    (Catalyst reuses the partitioning); top-15 via
    TakeOrderedAndProject with a user_id tie-break. NULL event times
    are dropped per the engine-wide event-time contract."""
    pts = _points(spark, sf_dir).filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = pts.select(
        "user_id",
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    ).filter(F.col("plat").isNotNull())
    seg = seq.select(
        "user_id",
        F.round(F.expr(_HAV_KM) * 1000.0, 0).cast("bigint").alias("seg_m"),
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum("seg_m").cast("bigint").alias("total_m"),
            F.max("seg_m").cast("bigint").alias("max_seg_m"),
        )
        .orderBy(F.desc("total_m"), "user_id")
        .limit(15)
    )


# Polygons as closed vertex rings (lon = x, lat = y). Polygon 10 is a
# convex pentagon; polygon 20 is a CONCAVE L-shape (its notch is the
# case a bounding-box test gets wrong, and its horizontal edges
# exercise the divide-by-zero lane of the crossing test — both
# engines agree: the (y1>py) <> (y2>py) conjunct is already false).
_POLYGONS = {
    10: (
        "pentagon_core",
        [
            (-75.20, 39.93),
            (-75.12, 39.91),
            (-75.06, 39.97),
            (-75.13, 40.03),
            (-75.21, 39.99),
        ],
    ),
    20: (
        "lshape_north",
        [
            (-75.26, 40.04),
            (-75.14, 40.04),
            (-75.14, 40.08),
            (-75.04, 40.08),
            (-75.04, 40.12),
            (-75.26, 40.12),
        ],
    ),
}


def _edges() -> list[tuple[int, float, float, float, float]]:
    rows = []
    for pid, (_, verts) in _POLYGONS.items():
        for i, (x1, y1) in enumerate(verts):
            x2, y2 = verts[(i + 1) % len(verts)]
            rows.append((pid, x1, y1, x2, y2))
    return rows


_EDGES_VALUES = ",\n  ".join(
    f"({pid}, CAST({x1!r} AS DOUBLE), CAST({y1!r} AS DOUBLE), "
    f"CAST({x2!r} AS DOUBLE), CAST({y2!r} AS DOUBLE))"
    for pid, x1, y1, x2, y2 in _edges()
)

# Ray-casting crossing test for one edge against point (lon, lat).
_CROSS_SQL = (
    "CASE WHEN ((y1 > lat) <> (y2 > lat)) "
    "AND (lon < x1 + (x2 - x1) * (lat - y1) / (y2 - y1)) "
    "THEN 1 ELSE 0 END"
)

_PNAME_CASE = "CASE poly_id " + " ".join(
    f"WHEN {pid} THEN '{name}'" for pid, (name, _) in _POLYGONS.items()
) + " END"


@register(
    "geo_point_in_polygon",
    oracle=f"""
WITH pts AS ({_PTS_ORACLE}),
edges(poly_id, x1, y1, x2, y2) AS (VALUES
  {_EDGES_VALUES}),
-- rid tags each PHYSICAL row (same hazard geo_zone_assign guards):
-- grouping crossings by (event_id, user_id, value) would merge
-- exact-duplicate rows, doubling sum(crossing) into even parity and
-- judging fully-duplicated points outside while the engine's map-only
-- fold evaluates each physical row on its own.
rows_ AS (SELECT *, row_number() OVER () AS rid FROM pts),
cr AS (
  SELECT p.rid, p.user_id, p.value, e.poly_id,
    {_CROSS_SQL} AS crossing
  FROM rows_ p CROSS JOIN edges e
),
inside AS (
  SELECT rid, any_value(user_id) AS user_id, any_value(value) AS value,
    poly_id
  FROM cr GROUP BY rid, poly_id
  HAVING sum(crossing) % 2 = 1
)
SELECT poly_id, {_PNAME_CASE.replace("poly_id", "poly_id")} AS pname,
  CAST(count(*) AS BIGINT) AS n_inside,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  round(sum(value), 2) AS sum_value
FROM inside GROUP BY poly_id ORDER BY poly_id
""",
    tags=("M5", "H5", "H3", "C7"),
)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon via ray casting, folded over an EDGE-ARRAY
    LITERAL: each polygon's edges ride inside the row expression and
    `aggregate` (higher-order fold) counts ray crossings JVM-side, so
    containment is a map-only column — no explode, no n-x-edges
    shuffle, no per-event re-grouping. The concave L-polygon proves
    real ray casting (a bbox test would over-count its notch); its
    horizontal edges hit the divide-by-zero lane where both engines
    agree because the crossing conjunct is already false. The oracle
    takes the textbook explode+GROUP BY parity route on identical
    per-edge arithmetic. Crossing arithmetic is +,-,*,/ and strict
    comparisons only — bit-identical across engines."""
    pts = _points(spark, sf_dir)

    def inside_col(pid: int) -> F.Column:
        earr = F.array(
            *[
                F.struct(
                    F.lit(x1).alias("x1"),
                    F.lit(y1).alias("y1"),
                    F.lit(x2).alias("x2"),
                    F.lit(y2).alias("y2"),
                )
                for epid, x1, y1, x2, y2 in _edges()
                if epid == pid
            ]
        )
        return (
            F.aggregate(
                earr,
                F.lit(0),
                lambda acc, e: acc
                + F.when(
                    ((e["y1"] > F.col("lat")) != (e["y2"] > F.col("lat")))
                    & (
                        F.col("lon")
                        < e["x1"]
                        + (e["x2"] - e["x1"])
                        * (F.col("lat") - e["y1"])
                        / (e["y2"] - e["y1"])
                    ),
                    F.lit(1),
                ).otherwise(F.lit(0)),
            )
            % 2
            == 1
        )

    flagged = pts.select(
        "user_id",
        "value",
        *[
            inside_col(pid).alias(f"in_{pid}")
            for pid in _POLYGONS
        ],
    )
    per_poly = flagged.agg(
        *[
            agg
            for pid in _POLYGONS
            for agg in (
                F.sum(F.when(F.col(f"in_{pid}"), 1).otherwise(0))
                .cast("bigint")
                .alias(f"n_{pid}"),
                F.countDistinct(
                    F.when(F.col(f"in_{pid}"), F.col("user_id"))
                ).alias(f"u_{pid}"),
                F.round(
                    F.sum(F.when(F.col(f"in_{pid}"), F.col("value"))), 2
                ).alias(f"v_{pid}"),
            )
        ]
    )
    # one row per polygon via explode of a struct array — NOT a union
    # of per-polygon selects, which would recompute the aggregate and
    # scan the fact table once per polygon (plan-audited: the union
    # shape showed two parquet scans).
    rows = per_poly.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(pid).alias("poly_id"),
                        F.lit(name).alias("pname"),
                        F.col(f"n_{pid}").alias("n_inside"),
                        F.col(f"u_{pid}").cast("bigint").alias("n_users"),
                        F.col(f"v_{pid}").alias("sum_value"),
                    )
                    for pid, (name, _) in _POLYGONS.items()
                ]
            )
        ).alias("r")
    ).select("r.*")
    # the oracle's GROUP BY drops polygons with zero inside-rows;
    # mirror that so the empty fixture agrees.
    return rows.filter(F.col("n_inside") > 0).orderBy("poly_id")


# Query points for the grid kNN (qid, qlat, qlon).
_QPOINTS = (
    (1, 39.9502, -75.1651),
    (2, 40.0051, -75.2203),
    (3, 40.1003, -75.0105),
    (4, 39.8802, -75.2502),
)

_QPOINTS_VALUES = ",\n  ".join(
    f"({qid}, CAST({qlat!r} AS DOUBLE), CAST({qlon!r} AS DOUBLE))"
    for qid, qlat, qlon in _QPOINTS
)


@register(
    "geo_knn_grid",
    oracle=f"""
WITH pts AS ({_PTS_ORACLE}),
cells AS (
  SELECT event_id, lat, lon,
    {CY_SQL} * 32 + {CX_SQL} AS cell_id
  FROM pts
),
q(qid, qlat, qlon) AS (VALUES
  {_QPOINTS_VALUES}),
qc AS (
  SELECT qid, qlat, qlon,
    (CAST(floor((qlat - 39.87) / 0.01) AS INT) + dy.range) * 32
      + (CAST(floor((qlon - (-75.28)) / 0.01) AS INT) + dx.range) AS cell_id
  FROM q CROSS JOIN range(-1, 2) dy CROSS JOIN range(-1, 2) dx
),
cand AS (
  SELECT qc.qid, c.event_id,
    (c.lat - qc.qlat) * (c.lat - qc.qlat)
      + ((c.lon - qc.qlon) * 0.766) * ((c.lon - qc.qlon) * 0.766) AS d2
  FROM qc JOIN cells c ON c.cell_id = qc.cell_id
),
rk AS (
  SELECT qid, event_id, d2,
    row_number() OVER (PARTITION BY qid ORDER BY d2, event_id) AS rk
  FROM cand
)
SELECT qid, rk, event_id, round(sqrt(d2) * 111.32, 4) AS d_km
FROM rk WHERE rk <= 5 ORDER BY qid, rk
""",
    tags=("M6", "J8", "C7"),
)
def geo_knn_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial kNN with grid pruning: each query point expands to its
    3x3 neighbor-cell ring (explode of a 9-element literal) and the
    candidate fetch becomes a plain EQUI-join on cell_id against the
    binned events — the scale path that replaces a full scan per
    query point (at 100 TB the ring join touches ~9/864 of the data
    per query; with a cell-partitioned layout it would prune to 9
    files). Exact equirectangular ranking among candidates with an
    event_id tie-break; reported km goes through IEEE-exact sqrt and
    then rounding. Both sides implement the identical ring semantics,
    so bounded-radius truncation (a ring can hold < k candidates)
    agrees by construction."""
    pts = _points(spark, sf_dir)
    cells = pts.select(
        "event_id",
        "lat",
        "lon",
        (F.expr(CY_SQL) * 32 + F.expr(CX_SQL)).alias("cell_id"),
    )
    q = local_df(
        spark, list(_QPOINTS), "qid INT, qlat DOUBLE, qlon DOUBLE"
    )
    offs = F.expr(
        "explode(flatten(transform(sequence(-1, 1), dy -> "
        "transform(sequence(-1, 1), dx -> struct(dy, dx)))))"
    )
    qc = q.select("qid", "qlat", "qlon", offs.alias("o")).select(
        "qid",
        "qlat",
        "qlon",
        (
            (
                F.floor((F.col("qlat") - 39.87) / 0.01).cast("int")
                + F.col("o.dy")
            )
            * 32
            + (
                F.floor((F.col("qlon") - (-75.28)) / 0.01).cast("int")
                + F.col("o.dx")
            )
        ).alias("cell_id"),
    )
    cand = cells.join(F.broadcast(qc), on="cell_id", how="inner").select(
        "qid",
        "event_id",
        (
            (F.col("lat") - F.col("qlat")) * (F.col("lat") - F.col("qlat"))
            + ((F.col("lon") - F.col("qlon")) * 0.766)
            * ((F.col("lon") - F.col("qlon")) * 0.766)
        ).alias("d2"),
    )
    w = Window.partitionBy("qid").orderBy("d2", "event_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "qid", "rk", "event_id", F.round(F.sqrt("d2") * 111.32, 4).alias("d_km")
        )
        .orderBy("qid", "rk")
    )


# Fine grid for the density join: eps-sized cells IN THE METRIC, so a
# point's eps-ball is genuinely covered by its 3x3 fine-cell ring.
# Longitude is binned on the PRE-SCALED axis lon*0.766 (the same
# flattening the distance uses): binning raw degrees at 0.002 would
# leave each lon-cell only 0.002*0.766 ~= 0.00153 metric units wide
# while the ball's metric radius is 0.002, so true eps-neighbors up to
# two raw-lon cells away would be ring-missed (round-8 ADVICE item).
# With metric-axis binning each cell is exactly eps x eps in the
# equirect metric and the classic ring-covers-ball argument holds.
FX_SQL = (
    "CAST(floor(((lon - CAST(-75.28 AS DOUBLE)) * CAST(0.766 AS DOUBLE))"
    " / CAST(0.002 AS DOUBLE)) AS INT)"
)
FY_SQL = (
    "CAST(floor((lat - CAST(39.87 AS DOUBLE)) / CAST(0.002 AS DOUBLE)) AS INT)"
)
_EPS2 = "0.000004"  # (0.002 deg)^2 in the equirect metric

# Hot-cell threshold for the density self-join: a fine cell holding h
# points contributes ~h² candidate pairs no matter how the join is
# bucketed — salting re-spreads the SHUFFLE but cannot reduce the pair
# mass itself. 2000²·9-ring ≈ 36M pairs is the largest burst a single
# reduce task should absorb. Rounds 8-10 REFUSED loudly past the cap;
# round 11 (verdict item 3) converts the refusal into a DEGRADED MODE:
# points whose 3×3 ring touches a hot cell get a deterministic
# count-based neighbor estimate (the census machinery the old refusal
# message pointed at) instead of the h² join, everything else stays
# exact, and the result carries (n_approx_pts, degraded) so the
# approximation is loud in the output rather than an exception.
GEO_DENSITY_HOT_CAP = 2000
# eps-disk / 3×3-ring area ratio: π·eps² / 9·eps² = π/9. Fixed literal
# so Spark and the DuckDB oracle compute bit-identical estimates.
_DISK_RING_RATIO = "0.3491"


@register(
    "geo_density_core",
    oracle=f"""
WITH pts AS ({_PTS_ORACLE}),
cells AS (
  SELECT event_id, lat, lon,
    {FY_SQL} * 1024 + {FX_SQL} AS cell_id
  FROM pts
),
cnt AS (
  SELECT cell_id, CAST(count(*) AS BIGINT) AS c FROM cells GROUP BY cell_id
),
ringstats AS (
  SELECT cnt.cell_id + dy.range * 1024 + dx.range AS tgt,
    CAST(sum(c) AS BIGINT) AS ring_mass,
    max(CASE WHEN c > {GEO_DENSITY_HOT_CAP} THEN 1 ELSE 0 END) AS hot
  FROM cnt CROSS JOIN range(-1, 2) dy CROSS JOIN range(-1, 2) dx
  GROUP BY 1
),
cellinfo AS (
  SELECT cnt.cell_id, cnt.c, r.ring_mass, r.hot
  FROM cnt JOIN ringstats r ON r.tgt = cnt.cell_id
),
a_ok AS (
  SELECT cells.event_id, cells.lat, cells.lon, cells.cell_id
  FROM cells JOIN cellinfo ci ON ci.cell_id = cells.cell_id
  WHERE ci.hot = 0
),
ring AS (
  SELECT event_id, lat, lon,
    cell_id + dy.range * 1024 + dx.range AS probe_cell
  FROM a_ok CROSS JOIN range(-1, 2) dy CROSS JOIN range(-1, 2) dx
),
nbr AS (
  SELECT a.event_id, CAST(count(*) AS BIGINT) AS n_neighbors
  FROM ring a JOIN cells b ON b.cell_id = a.probe_cell
  WHERE b.event_id <> a.event_id
    AND (b.lat - a.lat) * (b.lat - a.lat)
      + ((b.lon - a.lon) * 0.766) * ((b.lon - a.lon) * 0.766) <= {_EPS2}
  GROUP BY a.event_id
),
ecore AS (SELECT event_id, n_neighbors FROM nbr WHERE n_neighbors >= 3),
acells AS (
  SELECT c, CAST(floor((ring_mass - 1) * {_DISK_RING_RATIO}) AS BIGINT) AS nn
  FROM cellinfo WHERE hot = 1
)
SELECT
  CAST((SELECT count(*) FROM pts) AS BIGINT) AS n_points,
  CAST((SELECT count(*) FROM ecore)
    + coalesce((SELECT sum(c) FROM acells WHERE nn >= 3), 0) AS BIGINT)
    AS n_core,
  CAST(coalesce((SELECT sum(n_neighbors) FROM ecore), 0)
    + coalesce((SELECT sum(c * nn) FROM acells WHERE nn >= 3), 0) AS BIGINT)
    AS sum_neighbors,
  CAST(greatest(
    coalesce((SELECT max(n_neighbors) FROM ecore), 0),
    coalesce((SELECT max(nn) FROM acells WHERE nn >= 3), 0)) AS BIGINT)
    AS max_neighbors,
  CAST(coalesce((SELECT sum(c) FROM acells), 0) AS BIGINT) AS n_approx_pts,
  coalesce((SELECT sum(c) FROM acells), 0) > 0 AS degraded
""",
    tags=("M7", "M8", "J9", "C7"),
)
def geo_density_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN-style core-point census: a point is core if >= 3 OTHER
    points sit within eps = 0.002 deg (equirect). The eps-ball is
    covered by the point's 3x3 ring on an eps-sized fine grid, so the
    neighbor search is an EQUI self-join (ring side exploded 9x) —
    pair count stays linear in data volume for bounded density,
    where the naive formulation is an all-pairs quadratic cross join.
    This is the spatial twin of the LSH-bucketed similarity self-join
    (J9): same shuffle shape, same scale argument.

    Skew handling (round 11, degraded mode): a fine cell of h points
    contributes ~h² pairs regardless of bucketing — no salting reduces
    the pair MASS. Contamination is a CELL property: a point's exact
    neighbor count involves a hot cell iff its own cell's 3×3 ring
    touches one. So the per-cell count table (tiny — one row per
    occupied cell) self-joined on the 9 ring offsets yields, per cell,
    (ring_mass, hot_in_ring); points in clean-ring cells keep the
    EXACT pairwise census (pair mass ≤ 9·CAP² per cell by
    construction), while points in contaminated cells get the
    deterministic count-based estimate the old refusal pointed at:
    ñ = floor((ring_mass − 1) · π/9) — ring mass scaled by the
    eps-disk/ring area ratio, identical for every point in the cell,
    zero pair work. The output is loud about degradation instead of
    raising: n_approx_pts counts estimated points and `degraded` flags
    the run (0/false on un-skewed data, where the result is
    bit-identical to the pure exact census). Exercised by the geoskew
    adversarial fixture (3600 points in one eps-cell) — the entry now
    returns the mixed exact/approx census there and still hash-matches
    its oracle, which mirrors the same deterministic arithmetic.
    Distances are +,-,* only; counts are exact integers; the estimate
    uses one fixed literal ratio so both engines agree bitwise."""
    pts = _points(spark, sf_dir)
    cells = pts.select(
        "event_id",
        "lat",
        "lon",
        (F.expr(FY_SQL) * 1024 + F.expr(FX_SQL)).alias("cell_id"),
    )
    offs = F.expr(
        "explode(flatten(transform(sequence(-1, 1), dy -> "
        "transform(sequence(-1, 1), dx -> struct(dy, dx)))))"
    )
    # per-cell counts: one row per OCCUPIED cell — the whole degraded-
    # mode decision runs on this tiny relation, never on points
    cnt = cells.groupBy("cell_id").agg(F.count("*").alias("c"))
    spread = cnt.select("cell_id", "c", offs.alias("o")).select(
        (F.col("cell_id") + F.col("o.dy") * 1024 + F.col("o.dx")).alias("tgt"),
        "c",
    )
    ringstats = spread.groupBy("tgt").agg(
        F.sum("c").alias("ring_mass"),
        F.max(
            (F.col("c") > F.lit(GEO_DENSITY_HOT_CAP)).cast("int")
        ).alias("hot"),
    )
    cellinfo = cnt.join(
        ringstats, cnt["cell_id"] == ringstats["tgt"]
    ).select("cell_id", "c", "ring_mass", "hot")

    # exact branch: only points whose ring is hot-free join pairwise —
    # broadcast the (tiny) cell-info relation onto the points
    a_ok = cells.join(
        F.broadcast(cellinfo.filter(F.col("hot") == 0).select("cell_id")),
        on="cell_id",
        how="inner",
    )
    ring = a_ok.select("event_id", "lat", "lon", "cell_id", offs.alias("o")).select(
        "event_id",
        "lat",
        "lon",
        (F.col("cell_id") + F.col("o.dy") * 1024 + F.col("o.dx")).alias(
            "probe_cell"
        ),
    )
    b = cells.select(
        F.col("event_id").alias("b_event_id"),
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
        F.col("cell_id").alias("probe_cell"),
    )
    nbr = (
        ring.join(b, on="probe_cell", how="inner")
        .filter(
            (F.col("b_event_id") != F.col("event_id"))
            & (
                (F.col("b_lat") - F.col("lat")) * (F.col("b_lat") - F.col("lat"))
                + ((F.col("b_lon") - F.col("lon")) * 0.766)
                * ((F.col("b_lon") - F.col("lon")) * 0.766)
                <= F.lit(float(_EPS2))
            )
        )
        .groupBy("event_id")
        .agg(F.count("*").alias("n_neighbors"))
    )
    ecore = nbr.filter(F.col("n_neighbors") >= 3).agg(
        F.count("*").alias("e_n"),
        F.coalesce(F.sum("n_neighbors"), F.lit(0)).cast("bigint").alias("e_sum"),
        F.coalesce(F.max("n_neighbors"), F.lit(0)).cast("bigint").alias("e_max"),
    )

    # degraded branch: pure cell-level arithmetic over contaminated
    # cells — O(#hot-ring cells) rows, zero pair mass at any skew
    acells = cellinfo.filter(F.col("hot") == 1).select(
        "c",
        F.floor(
            (F.col("ring_mass") - F.lit(1)) * F.lit(float(_DISK_RING_RATIO))
        ).cast("bigint").alias("nn"),
    )
    aagg = acells.agg(
        F.coalesce(
            F.sum(F.when(F.col("nn") >= 3, F.col("c"))), F.lit(0)
        ).cast("bigint").alias("a_n"),
        F.coalesce(
            F.sum(F.when(F.col("nn") >= 3, F.col("c") * F.col("nn"))), F.lit(0)
        ).cast("bigint").alias("a_sum"),
        F.coalesce(
            F.max(F.when(F.col("nn") >= 3, F.col("nn"))), F.lit(0)
        ).cast("bigint").alias("a_max"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_approx_pts"),
    )

    total = pts.agg(F.count("*").alias("n_points"))
    return (
        ecore.crossJoin(F.broadcast(aagg))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("n_points").cast("bigint").alias("n_points"),
            (F.col("e_n") + F.col("a_n")).cast("bigint").alias("n_core"),
            (F.col("e_sum") + F.col("a_sum")).cast("bigint").alias(
                "sum_neighbors"
            ),
            F.greatest("e_max", "a_max").cast("bigint").alias("max_neighbors"),
            "n_approx_pts",
            (F.col("n_approx_pts") > 0).alias("degraded"),
        )
    )


_OD_ZONED_ORACLE = f"""
rows_ AS (
  SELECT *, row_number() OVER () AS rid FROM pts
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
d AS (
  SELECT p.rid, p.user_id, p.ts, p.event_id, z.zone_id,
    (p.lat - z.clat) * (p.lat - z.clat)
      + ((p.lon - z.clon) * 0.766) * ((p.lon - z.clon) * 0.766) AS d2
  FROM rows_ p CROSS JOIN zones z
),
a AS (
  SELECT *, row_number() OVER (PARTITION BY rid ORDER BY d2, zone_id) AS rn
  FROM d
),
zoned AS (SELECT user_id, ts, event_id, zone_id FROM a WHERE rn = 1)
"""


@register(
    "geo_od_matrix",
    oracle=f"""
WITH pts AS ({_PTS_ORACLE}),
zones(zone_id, zname, clat, clon) AS (VALUES
  {_ZONES_VALUES}),
{_OD_ZONED_ORACLE},
seq AS (
  SELECT user_id, zone_id AS dst,
    lag(zone_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
  FROM zoned
)
SELECT src, dst, CAST(count(*) AS BIGINT) AS n_trips
FROM seq WHERE src IS NOT NULL
GROUP BY src, dst
ORDER BY n_trips DESC, src, dst LIMIT 30
""",
    tags=("M2", "M4", "E2", "D1"),
)
def geo_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flow matrix: assign every event its nearest
    zone with the zero-shuffle argmin fold, lag per user over
    (ts, event_id) — the event_id tie-break keeps duplicate
    timestamps deterministic — and count zone-to-zone transitions.
    One shuffle total (the user window); the zone assignment adds no
    join and the 8x8 matrix aggregate is map-side combinable. Top-30
    flows with (src, dst) tie-break. The oracle takes the textbook
    crossJoin+argmin-window route on identical arithmetic."""
    pts = _points(spark, sf_dir).filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    zoned = pts.select(
        "user_id", "ts", "event_id", _zone_struct()["zone_id"].alias("zone_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = zoned.select(
        F.col("zone_id").alias("dst"), F.lag("zone_id").over(w).alias("src")
    ).filter(F.col("src").isNotNull())
    return (
        seq.groupBy("src", "dst")
        .agg(F.count("*").alias("n_trips"))
        .orderBy(F.desc("n_trips"), "src", "dst")
        .limit(30)
    )


@register(
    "s_geofence_alerts",
    oracle=f"""
WITH pts AS ({_PTS_ORACLE}),
boxes(box_id, bname, lat_lo, lat_hi, lon_lo, lon_hi) AS (VALUES
  {_BOXES_VALUES}),
hits AS (
  -- epoch-aligned day truncation, NOT date_trunc('day'): Spark's
  -- window('ts','1 day') buckets on floor(epoch/86400) regardless of
  -- session timezone, while date_trunc truncates wall-clock and only
  -- agrees under UTC (round-8 ADVICE item; the 15-min s_* oracles use
  -- the same floor-epoch spelling and are Tokyo-sweep-proven).
  SELECT b.box_id, b.bname,
    CAST(to_timestamp(CAST(floor(epoch(CAST(p.ts AS TIMESTAMP)) / 86400)
      * 86400 AS BIGINT)) AS TIMESTAMP) AS day, p.value
  FROM pts p JOIN boxes b
    ON p.lat BETWEEN b.lat_lo AND b.lat_hi
   AND p.lon BETWEEN b.lon_lo AND b.lon_hi
  WHERE p.ts IS NOT NULL
)
SELECT box_id, bname, day,
  CAST(count(*) AS BIGINT) AS n_events,
  round(sum(value), 2) AS sum_value
FROM hits GROUP BY box_id, bname, day
ORDER BY box_id, day
""",
    tags=("M3", "I2", "I7", "A6"),
)
def s_geofence_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming geofencing: the event stream derives coordinates,
    joins the static broadcast geofence dimension (stream-static join
    — allowed without a watermark because the static side never
    changes), and rolls up daily alert counts per fence in tumbling
    windows. availableNow replay == batch day-truncation (windows are
    epoch-aligned), the batch-equivalence protocol every s_* entry
    uses. NULL event times are dropped on both sides per the engine's
    event-time contract."""
    from parking_violations_data_pipeline_spark.streaming import jobs

    s = (
        jobs.events_stream(spark, sf_dir)
        .filter(F.col("event_id").isNotNull() & F.col("ts").isNotNull())
        .withColumn("lat", F.expr(LAT_SQL))
        .withColumn("lon", F.expr(LON_SQL))
    )
    boxes = local_df(
        spark,
        list(_BOXES),
        "box_id INT, bname STRING, lat_lo DOUBLE, lat_hi DOUBLE, "
        "lon_lo DOUBLE, lon_hi DOUBLE",
    )
    hits = s.join(
        F.broadcast(boxes),
        on=(
            F.col("lat").between(F.col("lat_lo"), F.col("lat_hi"))
            & F.col("lon").between(F.col("lon_lo"), F.col("lon_hi"))
        ),
        how="inner",
    )
    agg = hits.groupBy(
        "box_id", "bname", F.window("ts", "1 day").alias("w")
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return (
        jobs.run_available_now(
            agg, "complete", src_bytes=fixture_bytes(sf_dir, "events")
        )
        .select(
            "box_id",
            "bname",
            F.col("w.start").alias("day"),
            "n_events",
            "sum_value",
        )
        .orderBy("box_id", "day")
    )


@register(
    "geo_multires_rollup",
    oracle=f"""
WITH pts AS ({_PTS_ORACLE}),
cells AS (
  SELECT {CX_SQL} AS cx, {CY_SQL} AS cy, value FROM pts
),
b AS (
  SELECT cx, cy,
    CAST(floor(cx / 4.0) AS INT) AS block_x,
    CAST(floor(cy / 4.0) AS INT) AS block_y,
    value
  FROM cells
)
SELECT CASE WHEN GROUPING(cx) = 1 THEN 'block' ELSE 'cell' END AS lvl,
  block_x, block_y, cx, cy,
  CAST(count(*) AS BIGINT) AS n_events,
  round(sum(value), 2) AS sum_value
FROM b GROUP BY GROUPING SETS ((block_x, block_y), (block_x, block_y, cx, cy))
ORDER BY n_events DESC, lvl, block_x, block_y,
  cx NULLS FIRST, cy NULLS FIRST
LIMIT 25
""",
    tags=("M1", "D4"),
)
def geo_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution spatial rollup: one GROUPING SETS pass
    produces BOTH the 0.04-deg block subtotals and the 0.01-deg cell
    detail (the drill-down a hotspot dashboard serves), sharing one
    scan and one shuffle — two separate aggregations would scan twice.
    At 100 TB the partial aggregate collapses to <= 864 + 63 groups
    map-side regardless of input volume. Deterministic top-25 with
    explicit NULLS FIRST on the cell columns (Spark defaults nulls
    first ascending, DuckDB nulls LAST — the tie-break must pin it on
    both sides)."""
    pts = _points(spark, sf_dir)
    b = pts.select(
        F.expr(CX_SQL).alias("cx"),
        F.expr(CY_SQL).alias("cy"),
        "value",
    ).select(
        "cx",
        "cy",
        F.expr("CAST(floor(cx / 4.0) AS INT)").alias("block_x"),
        F.expr("CAST(floor(cy / 4.0) AS INT)").alias("block_y"),
        "value",
    )
    rolled = b.groupingSets(
        [["block_x", "block_y"], ["block_x", "block_y", "cx", "cy"]],
        "block_x",
        "block_y",
        "cx",
        "cy",
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.grouping("cx").alias("_g"),
    )
    return (
        rolled.select(
            F.when(F.col("_g") == 1, F.lit("block"))
            .otherwise(F.lit("cell"))
            .alias("lvl"),
            "block_x",
            "block_y",
            "cx",
            "cy",
            "n_events",
            "sum_value",
        )
        .orderBy(
            F.desc("n_events"),
            "lvl",
            "block_x",
            "block_y",
            F.asc_nulls_first("cx"),
            F.asc_nulls_first("cy"),
        )
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Many-polygon spatial join (round-9, verdict item 5). M3's broadcast
# nested-loop is right for a 5-row fence dim; a REAL polygon layer
# (census tracts, neighborhood shapes) needs M6's trick instead:
# polygons are pre-rasterized to the coarse grid cells their bbox
# overlaps, the point->polygon candidate fetch becomes a plain
# EQUI-join on cell_id (shuffle- and broadcast-friendly, prunable on a
# cell-partitioned layout), and the exact ray-cast fold runs only on
# the candidates. 24 deterministic hexagons, vertices rounded to 6
# decimals and embedded as identical literals in BOTH engines.
def _hexagons() -> list[tuple[int, str, list[tuple[float, float]]]]:
    out = []
    pid = 0
    for gy in range(4):
        for gx in range(6):
            pid += 1
            clat = 39.90 + gy * 0.06
            clon = -75.25 + gx * 0.05
            verts = []
            for k in range(6):
                ang = math.pi / 3.0 * k
                verts.append(
                    (
                        round(clon + 0.016 * math.cos(ang), 6),
                        round(clat + 0.012 * math.sin(ang), 6),
                    )
                )
            out.append((pid, f"hex_{pid:02d}", verts))
    return out


def _hex_edges(verts: list[tuple[float, float]]):
    for i, (x1, y1) in enumerate(verts):
        x2, y2 = verts[(i + 1) % len(verts)]
        yield x1, y1, x2, y2


def _hex_cells(verts: list[tuple[float, float]]) -> list[int]:
    """Coarse 0.01-deg cells overlapped by the polygon's bbox —
    computed driver-side from literals (24 polygons, ~6-12 cells
    each); a superset of the cells containing inside-points, so the
    equi-join candidate set can never lose a true hit."""
    lons = [v[0] for v in verts]
    lats = [v[1] for v in verts]
    cx_lo = math.floor((min(lons) - (-75.28)) / 0.01)
    cx_hi = math.floor((max(lons) - (-75.28)) / 0.01)
    cy_lo = math.floor((min(lats) - 39.87) / 0.01)
    cy_hi = math.floor((max(lats) - 39.87) / 0.01)
    return [
        cy * 32 + cx
        for cy in range(cy_lo, cy_hi + 1)
        for cx in range(cx_lo, cx_hi + 1)
    ]


_HEX_EDGE_VALUES = ",\n  ".join(
    f"({pid}, CAST({x1!r} AS DOUBLE), CAST({y1!r} AS DOUBLE), "
    f"CAST({x2!r} AS DOUBLE), CAST({y2!r} AS DOUBLE))"
    for pid, _, verts in _hexagons()
    for x1, y1, x2, y2 in _hex_edges(verts)
)


@register(
    "geo_polygon_join",
    oracle=f"""
WITH pts AS ({_PTS_ORACLE}),
edges(poly_id, x1, y1, x2, y2) AS (VALUES
  {_HEX_EDGE_VALUES}),
rows_ AS (SELECT *, row_number() OVER () AS rid FROM pts),
cr AS (
  SELECT p.rid, p.user_id, p.value, e.poly_id,
    {_CROSS_SQL} AS crossing
  FROM rows_ p CROSS JOIN edges e
),
inside AS (
  SELECT rid, any_value(user_id) AS user_id, any_value(value) AS value,
    poly_id
  FROM cr GROUP BY rid, poly_id
  HAVING sum(crossing) % 2 = 1
)
SELECT poly_id,
  CAST(count(*) AS BIGINT) AS n_inside,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  round(sum(value), 2) AS sum_value
FROM inside GROUP BY poly_id ORDER BY poly_id
""",
    tags=("M9", "M3", "M5", "M6", "C7"),
)
def geo_polygon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon JOIN against a 24-polygon hexagon layer, the
    100-TB shape: each polygon is exploded to the coarse grid cells
    its bbox overlaps (a 24-row dim becomes a ~200-row (cell_id,
    poly_id, edges) dim — still broadcastable at ANY polygon-layer
    size that fits an executor), points bin to cell_id, and the
    candidate fetch is a plain EQUI-join on cell_id — never a
    nested-loop: with the broadcast threshold cleared the join
    degrades to SortMergeJoin on cell_id, not BNLJ (plan-pinned in
    tests/test_geo_r9b.py). The exact ray-cast parity then folds over
    the polygon's edge array (carried as an array<struct> COLUMN —
    the data-driven twin of geo_point_in_polygon's literal fold) on
    candidates only. The oracle takes the textbook all-pairs
    explode+parity route with a physical-row rid on identical edge
    literals; the cell prefilter is a pure optimization (bbox-cell
    cover is a superset of containing cells), so both agree exactly.
    """
    pts = _points(spark, sf_dir)
    hex_rows = [
        (
            pid,
            list(_hex_edges(verts)),
            _hex_cells(verts),
        )
        for pid, _, verts in _hexagons()
    ]
    dim = local_df(
        spark,
        hex_rows,
        "poly_id int, edges array<struct<x1:double,y1:double,"
        "x2:double,y2:double>>, cells array<int>",
    ).select("poly_id", "edges", F.explode("cells").alias("cell_id"))
    binned = pts.select(
        "user_id",
        "value",
        "lat",
        "lon",
        (F.expr(CY_SQL) * 32 + F.expr(CX_SQL)).alias("cell_id"),
    )
    cand = binned.join(F.broadcast(dim), "cell_id")
    crossings = F.aggregate(
        F.col("edges"),
        F.lit(0),
        lambda acc, e: acc
        + F.when(
            ((e["y1"] > F.col("lat")) != (e["y2"] > F.col("lat")))
            & (
                F.col("lon")
                < e["x1"]
                + (e["x2"] - e["x1"])
                * (F.col("lat") - e["y1"])
                / (e["y2"] - e["y1"])
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    inside = cand.filter(crossings % 2 == 1)
    return (
        inside.groupBy("poly_id")
        .agg(
            F.count("*").alias("n_inside"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("poly_id")
    )
