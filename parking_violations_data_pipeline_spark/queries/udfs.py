"""K-family entries: the UDF, UDAF and UDTF surfaces (Arrow, pandas,
grouped and cogrouped maps, Python UDTFs).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.functions.timeutil import epoch_us, hourly_cents
from parking_violations_data_pipeline_spark.registry import register


@register(
    "k_map_in_arrow",
    oracle="""
SELECT CAST(vec_id AS BIGINT) AS vec_id,
  round(sqrt(list_sum(list_transform(embedding,
        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
FROM embeddings WHERE vec_id % 25 = 0 ORDER BY vec_id
""",
    tags=("K2", "J7"),
)
def k_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow surface (K): zero-copy Arrow RecordBatch iterator —
    the lowest-overhead Python hook, one step below pandas UDFs (no
    pandas conversion at all). Per-vector L2 norm via numpy over the
    Arrow buffers, float64 accumulation to match the oracle's double
    math.

    Batch-at-a-time with Arrow transfer; at 100 TB this path moves
    columnar buffers straight from Tungsten to numpy — the shape to
    reach for when even Series conversion shows up in profiles.
    """
    import pyarrow as pa

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 25 == 0)

    def norms(batches):
        import numpy as np

        for batch in batches:
            ids = batch.column("vec_id")
            embs = batch.column("embedding")
            out = []
            for i in range(batch.num_rows):
                v = np.asarray(embs[i].as_py(), dtype=np.float64)
                out.append(round(float(np.sqrt((v * v).sum())), 4))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(out, type=pa.float64())], ["vec_id", "l2_norm"]
            )

    out = e.select("vec_id", "embedding").mapInArrow(
        norms, "vec_id long, l2_norm double"
    )
    return out.orderBy("vec_id")


@register(
    "k_pandas_iter_udf",
    oracle="""
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n,
  round(sum(value * 1.07 + 2.5), 2) AS scored
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("K2",),
)
def k_pandas_iter_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-Series pandas UDF (K2's batched-state variant): the
    UDF receives an iterator over Arrow batches, so per-worker
    initialization (loading a model, opening a client) runs ONCE per
    task instead of once per batch — the pattern for model-scoring
    UDFs where init dominates.

    The 'model' here is a deterministic affine score (w=1.07, b=2.5)
    initialized before the loop; the oracle applies the same affine
    inline. Arrow-batched, never row-at-a-time.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _score(batches):
        w, b = 1.07, 2.5  # expensive init happens once per task here
        for s in batches:
            yield s * w + b

    # real annotation objects: this module's postponed-evaluation mode
    # (`from __future__ import annotations`) would stringize inline
    # hints, which pandas_udf's signature inference can't resolve
    _score.__annotations__ = {
        "batches": Iterator[pd.Series],
        "return": Iterator[pd.Series],
    }
    score = pandas_udf(_score, "double")

    e = load_table(spark, sf_dir, "events")
    return (
        e.withColumn("scored", score(F.col("value")))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("scored"), 2).alias("scored"),
        )
        .orderBy("event_type")
    )


@register(
    "k_udtf_analyze",
    oracle="""
WITH toks AS (
  SELECT list_filter(string_split(p_name, ' '), x -> x <> '') AS ws FROM part
),
cols AS (
  SELECT ws[1] AS c0, ws[2] AS c1, ws[3] AS c2 FROM toks
)
SELECT
  CAST(count(*) AS BIGINT)            AS n_rows,
  CAST(count(DISTINCT c0) AS BIGINT)  AS d0,
  CAST(count(DISTINCT c1) AS BIGINT)  AS d1,
  CAST(count(DISTINCT c2) AS BIGINT)  AS d2,
  min(c0)                             AS min_c0,
  max(c2)                             AS max_c2
FROM cols
""",
    tags=("K4",),
)
def k_udtf_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 UDTF with a DYNAMIC output schema: the static
    `analyze()` hook inspects the constant column-count argument at
    plan time and synthesizes the result schema (c0..c{k-1}) — the API
    that lets one table function serve any width (CSV shredding,
    key-value pivots) without per-width registrations. k_udtf covers
    the fixed-schema path; this is the planning-time metaprogramming
    path.

    The UDTF splits p_name into its first 3 words as 3 columns; the
    aggregate fingerprint (row count, per-column distincts, min/max)
    pins the shredding against the oracle's list-indexing twin.
    """
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class SplitCols:
        @staticmethod
        def analyze(s: AnalyzeArgument, k: AnalyzeArgument) -> AnalyzeResult:
            width = int(k.value)
            return AnalyzeResult(
                StructType(
                    [StructField(f"c{i}", StringType()) for i in range(width)]
                )
            )

        def eval(self, s: str, k: int):
            parts = [w for w in (s or "").split(" ") if w]
            yield tuple(
                (parts[i] if i < len(parts) else None) for i in range(k)
            )

    spark.udtf.register("split_cols", udtf(SplitCols))
    p = load_table(spark, sf_dir, "part")
    p.createOrReplaceTempView("__part_udtf")
    return spark.sql(
        """
SELECT
  CAST(count(*) AS BIGINT)           AS n_rows,
  CAST(count(DISTINCT c0) AS BIGINT) AS d0,
  CAST(count(DISTINCT c1) AS BIGINT) AS d1,
  CAST(count(DISTINCT c2) AS BIGINT) AS d2,
  min(c0)                            AS min_c0,
  max(c2)                            AS max_c2
FROM __part_udtf, LATERAL split_cols(p_name, 3) t
"""
    )


@register(
    "k_grouped_map_ols",
    oracle="""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY event_type, h
),
idx AS (
  SELECT event_type, y,
    CAST(row_number() OVER (PARTITION BY event_type ORDER BY h) AS BIGINT) AS x
  FROM hourly
),
stats AS (
  SELECT event_type,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
  FROM idx GROUP BY event_type
)
SELECT event_type, n,
  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6) AS slope,
  round((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)) * sx)
      / CAST(n AS DOUBLE), 6) AS intercept
FROM stats ORDER BY event_type
""",
    tags=("K3", "K2", "D8"),
)
def k_grouped_map_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group model fitting through the applyInPandas surface: an
    OLS trend (hourly cents vs hour index) fit INSIDE the Python
    worker per event type — the grouped-map shape every per-entity
    forecasting job uses. Determinism discipline: the pandas fn
    accumulates sufficient statistics as PYTHON INTEGERS (exact —
    numpy float64 dot products would be summation-order-dependent)
    and evaluates the closed form in the SAME floating-point
    operation sequence as the oracle, then one shared round.
    """
    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    hourly = hourly_cents(e, "y")

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        # mirrors the oracle's SQL aggregate semantics exactly: x-sums
        # run over ALL rows, y-sums SKIP NULLs (SQL sum), an all-NULL y
        # gives NULL sums, and a zero denominator (single point /
        # zero-variance x) gives NULL slope — never a worker crash
        pdf = pdf.sort_values("h").reset_index(drop=True)
        ys = [None if pd.isna(v) else int(v) for v in pdf["y"]]
        n = len(ys)
        sx = sxx = 0
        sy = sxy = None
        for i, yv in enumerate(ys, start=1):
            sx += i
            sxx += i * i
            if yv is not None:
                sy = (sy or 0) + yv
                sxy = (sxy or 0) + i * yv
        den = float(n) * sxx - float(sx) * sx
        slope = (
            None
            if sy is None or den == 0
            else (float(n) * sxy - float(sx) * sy) / den
        )
        intercept = (
            None if slope is None else (float(sy) - slope * sx) / float(n)
        )
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [n],
                "slope": [None if slope is None else round(slope, 6)],
                "intercept": [None if intercept is None else round(intercept, 6)],
            }
        )

    return (
        hourly.groupBy("event_type")
        .applyInPandas(fit, "event_type string, n long, slope double, intercept double")
        .orderBy("event_type")
    )


def _orders_rowcount(sf_dir: str) -> int:
    """Driver-side row count from the parquet footer(s) — no Spark job.
    Sizes the cogroup bucket count to the corpus (guide §2.5: synthetic
    partitioning keys must track the data, not a constant). A missing
    fixture raises OSError."""
    import os

    import pyarrow.dataset as ds

    return ds.dataset(os.path.join(sf_dir, "orders.parquet"), format="parquet").count_rows()


@register(
    "k_cogrouped_map",
    oracle="""
WITH l AS (
  SELECT l_orderkey,
    sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100, 0)
        AS BIGINT)) AS line_cents,
    count(*) AS n_lines
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT o.o_orderkey,
    CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS hdr_cents,
    coalesce(l.line_cents, 0) AS line_cents,
    coalesce(l.n_lines, 0) AS n_lines
  FROM orders o LEFT JOIN l ON o.o_orderkey = l.l_orderkey
)
SELECT
  CASE WHEN n_lines = 0 THEN 'no_lines'
       WHEN abs(hdr_cents - line_cents) <= n_lines THEN 'reconciled'
       ELSE 'mismatch' END AS status,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(abs(hdr_cents - line_cents)) AS BIGINT) AS total_abs_diff_cents
FROM j GROUP BY status ORDER BY status
""",
    tags=("K2", "C2"),
)
def k_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas — the K-family surface for two-sided
    custom group logic. The cogroup key is NOT the order key: keying a
    cogroup at entity granularity means one Python call per order
    (measured 661 s at the 10x scale smoke — per-group overhead, not
    compute). Instead both sides cogroup on a 1024-way hash BUCKET of
    the order key, and the kernel reconciles every order inside its
    bucket with vectorized pandas (merge + groupby): ~thousands of
    orders per Arrow transfer, per-call overhead amortized ~1000x,
    same shuffle shape (measured 11.1 s at 10x, a 59x speedup — the difference between
    an API demo and an operator that survives scale). The kernel
    reconciles each header total against its summed line revenue in
    integer cents (half-up rounding — pandas .round() is banker's
    half-even and diverges on exact halves) with a 1-cent-per-line
    tolerance. Oracle reproduces the verdicts as a SQL join.

    Bucket count is SCALE-ADAPTIVE (round-11, guide §2.5): a constant
    1024 meant 1024 cogroup kernel invocations regardless of input —
    at gate scale (15k orders) that is ~15 rows per Arrow transfer,
    pure per-call overhead (measured: the entry was 14 s at sf0.01,
    almost all of it FlatMapCoGroupsInPandas call latency). Sizing
    buckets to ~4k orders each keeps every kernel call vectorized at
    any corpus size: sf0.01 → 32 buckets, sf1 → 512, 100 TB → the
    65536 cap (~30k orders per call, still one Arrow batch stream).
    The result is bucket-count invariant: every order is reconciled
    against exactly its own lines whichever bucket the pair lands in."""
    n_orders = _orders_rowcount(sf_dir)
    n_buckets = max(32, min(65536, (n_orders // 4096) or 32))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice",
        F.pmod(F.col("o_orderkey"), F.lit(n_buckets)).alias("bucket"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_tax",
        F.pmod(F.col("l_orderkey"), F.lit(n_buckets)).alias("bucket"),
    )

    def reconcile(hdr: pd.DataFrame, lines: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if hdr.empty:
            return pd.DataFrame(
                {
                    "status": pd.Series(dtype="str"),
                    "hdr_cents": pd.Series(dtype="int64"),
                    "line_cents": pd.Series(dtype="int64"),
                    "n_lines": pd.Series(dtype="int64"),
                }
            )
        # nullable Int64 throughout: a NULL o_totalprice must surface
        # as a NULL hdr_cents (SQL round(NULL) is NULL, never a crash),
        # and pandas' NaN-skipping sum mirrors SQL sum-ignores-NULL
        # (all-NULL group -> 0.0 under min_count=0, matching the
        # oracle's coalesce(line_cents, 0))
        out = pd.DataFrame(
            {
                "o_orderkey": hdr["o_orderkey"],
                "hdr_cents": np.floor(hdr["o_totalprice"] * 100 + 0.5).astype(
                    "Int64"
                ),
            }
        )
        if lines.empty:
            out["line_cents"] = 0
            out["n_lines"] = 0
        else:
            rev = pd.DataFrame(
                {
                    "l_orderkey": lines["l_orderkey"],
                    "cents": np.floor(
                        lines["l_extendedprice"]
                        * (1 - lines["l_discount"])
                        * (1 + lines["l_tax"]) * 100
                        + 0.5
                    ),
                }
            )
            per_order = rev.groupby("l_orderkey", as_index=False).agg(
                line_cents=("cents", "sum"), n_lines=("cents", "size")
            )
            out = out.merge(
                per_order, left_on="o_orderkey", right_on="l_orderkey", how="left"
            )
            out["line_cents"] = out["line_cents"].fillna(0).astype("int64")
            out["n_lines"] = out["n_lines"].fillna(0).astype("int64")
        diff = (out["hdr_cents"] - out["line_cents"]).abs()
        # NULL diff is an unknown reconciliation -> SQL CASE falls to
        # ELSE 'mismatch'; fillna(False) reproduces that
        reconciled = (
            (diff <= out["n_lines"]).fillna(False).to_numpy(dtype=bool)
        )
        out["status"] = np.select(
            [out["n_lines"].to_numpy() == 0, reconciled],
            ["no_lines", "reconciled"],
            default="mismatch",
        )
        return out[["status", "hdr_cents", "line_cents", "n_lines"]]

    per_order = o.groupBy("bucket").cogroup(li.groupBy("bucket")).applyInPandas(
        reconcile,
        "status string, hdr_cents long, line_cents long, n_lines long",
    )
    return (
        per_order.groupBy("status")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.abs(F.col("hdr_cents") - F.col("line_cents"))).alias(
                "total_abs_diff_cents"
            ),
        )
        .orderBy("status")
    )


@register(
    "k_arrow_udtf",
    oracle="""
WITH w AS (
  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
  FROM documents WHERE doc_id < 200
)
SELECT CAST(length(word) AS INT) AS word_len,
  CAST(count(*) AS BIGINT) AS cnt
FROM w WHERE word <> ''
GROUP BY word_len ORDER BY word_len
""",
    tags=("K4", "K2"),
)
def k_arrow_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDTF (useArrow=True): same LATERAL
    table-function surface as K4's k_udtf, but rows cross the Python
    boundary as Arrow batches instead of pickled tuples — the switch
    that makes a Python UDTF viable in a hot path (k_udtf's
    row-at-a-time transfer is the documented slow variant). The word
    length histogram must match the pure-SQL split exactly."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word_len int", useArrow=True)
    class ExplodeWordsArrow:
        def eval(self, text: str):
            import re

            if text is None:  # lower(NULL) splits to nothing, like the SQL twin
                return
            for w in re.split(r"[^a-z]+", text.lower()):
                if w:
                    yield (len(w),)

    name = f"explode_words_arrow_{os.getpid()}"
    spark.udtf.register(name, ExplodeWordsArrow)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    view = f"__docs_arrow_udtf_{os.getpid()}"
    d.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT t.word_len, count(*) AS cnt
        FROM {view}, LATERAL {name}(text) t
        GROUP BY t.word_len ORDER BY t.word_len
        """
    )


@register(
    "k_pandas_window_udaf",
    oracle="""
WITH p AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
    CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
),
w AS (
  SELECT user_id, cents,
    round(avg(cents) OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4)
      AS trail_avg
  FROM p
)
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(trail_avg * 10000, 0) AS BIGINT)) AS BIGINT)
    AS avg_checksum,
  TRUE AS udaf_matches_builtin
FROM w
""",
    tags=("K3", "E3"),
)
def k_pandas_window_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF evaluated OVER A WINDOW FRAME — the GROUPED_AGG
    vectorized UDF applied not to groupBy but to a trailing 5-row
    window per user (Spark ships each frame's values to the UDF as a
    pandas Series — the API path for custom rolling statistics that
    built-ins can't express). Honesty check: the custom mean UDAF
    must equal the BUILT-IN avg over the identical frame on every row
    (both compute sum/n in float64 on identical inputs), emitted as
    an in-plan boolean plus a rounded checksum the oracle reproduces
    with its own window avg."""
    from parking_violations_data_pipeline_spark.functions.timeutil import epoch_us

    @pandas_udf("double")
    def frame_mean(v: pd.Series) -> float:
        return float(v.mean()) if len(v) else 0.0

    # trailing frame is event-time-ordered: NULL ts dropped both sides
    e = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    )
    p = e.select(
        "user_id",
        epoch_us("ts").alias("us"),
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    scored = p.select(
        F.round(frame_mean("cents").over(w), 4).alias("udaf_avg"),
        F.round(F.avg("cents").over(w), 4).alias("builtin_avg"),
    )
    return scored.agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.round(F.col("builtin_avg") * 10000, 0).cast("long")
        ).alias("avg_checksum"),
        # vacuously TRUE on an empty frame set (every() over zero rows
        # is NULL; the oracle emits a constant TRUE)
        F.coalesce(
            F.every(F.col("udaf_avg") == F.col("builtin_avg")), F.lit(True)
        ).alias("udaf_matches_builtin"),
    )
