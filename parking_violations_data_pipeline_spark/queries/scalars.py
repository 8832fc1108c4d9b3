"""Scalar function families (SURVEY.md §2 H) as oracle pairs: string,
datetime, math, hash, array, map, JSON/XML/CSV, URL, IP, encryption and
rounding functions, plus the SQL-surface entries (parameters, SQL UDFs,
scripting, GROUP BY ALL).

All expressions are JVM-side built-ins or SQL-defined functions — no
Python UDFs anywhere in this module. Dialect divergences handled per
SURVEY.md §5: Spark split() is regex (literal-safe delimiters only),
weekday/isodow used instead of the incompatible dayofweek numbering,
raw hash values never compared cross-engine (mapped outputs instead).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parking_violations_data_pipeline_spark.catalog import (
    load_table,
    maybe_broadcast,
    register_views,
)
from parking_violations_data_pipeline_spark.registry import register


@register(
    "h_string_funcs",
    oracle="""
SELECT c_custkey,
  -- JVM upper() applies Unicode FULL case mapping (ß -> SS); DuckDB
  -- maps ß to the capital sharp-s ẞ. Pre-folding ß to ss makes both
  -- engines agree (upper('ss') = 'SS'); a no-op on ASCII corpora
  upper(replace(c_name, 'ß', 'ss')) AS uname,
  lower(c_mktsegment) AS lseg,
  trim(' ' || c_name || ' ') AS trimmed,
  concat_ws('|', c_name, c_mktsegment) AS joined,
  substring(c_name, 1, 8) AS prefix,
  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_id,
  length(c_name) AS name_len,
  instr(c_name, '0') AS first_zero,
  regexp_extract(c_name, '([0-9]+)', 1) AS digits,
  regexp_replace(c_mktsegment, '[AEIOU]', '_', 'g') AS devoweled
FROM customer ORDER BY c_custkey
""",
    tags=("H1",),
)
def h_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1: the reference's address/description cleaning toolkit —
    case, trim, concat, substring, zero-padding (zip codes), regex."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            F.upper("c_name").alias("uname"),
            F.lower("c_mktsegment").alias("lseg"),
            F.trim(F.concat(F.lit(" "), F.col("c_name"), F.lit(" "))).alias("trimmed"),
            F.concat_ws("|", "c_name", "c_mktsegment").alias("joined"),
            F.substring("c_name", 1, 8).alias("prefix"),
            F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_id"),
            F.length("c_name").alias("name_len"),
            F.instr(F.col("c_name"), "0").alias("first_zero"),
            F.regexp_extract("c_name", "([0-9]+)", 1).alias("digits"),
            F.regexp_replace("c_mktsegment", "[AEIOU]", "_").alias("devoweled"),
        )
        .orderBy("c_custkey")
    )


@register(
    "h_datetime_funcs",
    oracle="""
SELECT o_orderkey,
  year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS d,
  hour(o_orderdate) AS hr,
  isodow(o_orderdate) AS dow_iso,
  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
  datediff('day', o_orderdate, TIMESTAMP '2001-12-31') AS days_to_eoy,
  -- floor, not CAST: unix time truncates toward -inf; DuckDB's
  -- BIGINT cast ROUNDS, flipping ...59.999999 to the next second
  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s,
  o_orderdate + INTERVAL 90 DAY AS due_date
FROM orders ORDER BY o_orderkey
""",
    tags=("H2",),
)
def h_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: timestamp parsing/arithmetic toolkit (the reference's
    issue_datetime handling). isodow (Mon=1..Sun=7) is the portable
    day-of-week — Spark dayofweek and DuckDB dayofweek number
    differently, so we standardize on ISO."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
            F.dayofmonth("o_orderdate").alias("d"),
            F.hour("o_orderdate").alias("hr"),
            (F.weekday("o_orderdate") + 1).alias("dow_iso"),
            F.date_trunc("month", "o_orderdate").alias("month_start"),
            F.datediff(F.lit("2001-12-31").cast("timestamp"), "o_orderdate").alias("days_to_eoy"),
            F.unix_timestamp("o_orderdate").alias("epoch_s"),
            (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "h_math_funcs",
    oracle="""
SELECT l_orderkey, l_linenumber,
  -- rates multiply FIRST and price is DECIMAL(28,4): DuckDB executes
  -- width-18 decimals in int64 and overflows at 1e7 prices; 28 forces
  -- 128-bit storage. Real scale is ≤ 6 digits (2+2+2), so the
  -- precision-loss rounding both engines apply stays exact.
  CAST(round(CAST(l_extendedprice AS DECIMAL(28,4))
             * ((1 - CAST(l_discount AS DECIMAL(8,6)))
                * (1 + CAST(l_tax AS DECIMAL(8,6)))), 2) AS DOUBLE) AS net,
  CAST(floor(l_extendedprice) AS BIGINT) AS fl,
  CAST(ceil(l_extendedprice) AS BIGINT) AS cl,
  abs(l_discount - 0.05) AS adist,
  -- domain-guarded: DuckDB ERRORS on sqrt(negative) / ln(<=0) where
  -- Spark yields NaN / -inf-or-NULL; NULL outside the domain is the
  -- shared SQL semantics (a refund row carries a negative price)
  CASE WHEN l_extendedprice >= 0 THEN round(sqrt(l_extendedprice), 6) END AS sq,
  CASE WHEN l_extendedprice > 0 THEN round(ln(l_extendedprice), 6) END AS lg,
  round(pow(l_quantity, 2.0), 2) AS qsq,
  CAST(l_quantity AS BIGINT) % 7 AS qmod
FROM lineitem ORDER BY l_orderkey, l_linenumber
""",
    tags=("H3",),
)
def h_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3: arithmetic / rounding / libm functions on the money columns.
    All computed doubles rounded on both sides (summation-order ulps
    can't occur row-wise, but libm last-ulp differences can)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            # decimal-exact money math: double round() is ulp-unstable at
            # exact .005 halves and diverges between engines (measured).
            # (28,4) price × (rate product) keeps the chain 128-bit on
            # both engines to 1e14 prices — DECIMAL(12,6) refused at 1e7
            # and DuckDB's width-18 int64 path overflowed (extremes
            # fixture). Real scale ≤ 6 digits, so the precision-loss
            # rounding both engines apply past width 38 stays exact.
            F.round(
                F.col("l_extendedprice").cast("decimal(28,4)")
                * (
                    (F.lit(1) - F.col("l_discount").cast("decimal(8,6)"))
                    * (F.lit(1) + F.col("l_tax").cast("decimal(8,6)"))
                ),
                2,
            )
            .cast("double")
            .alias("net"),
            F.floor("l_extendedprice").alias("fl"),
            F.ceil("l_extendedprice").alias("cl"),
            F.abs(F.col("l_discount") - 0.05).alias("adist"),
            # domain-guarded to NULL (see oracle note): Spark sqrt(<0)
            # is NaN and log(<=0) is NULL; DuckDB errors — NULL is the
            # shared semantics for out-of-domain money
            F.when(
                F.col("l_extendedprice") >= 0,
                F.round(F.sqrt("l_extendedprice"), 6),
            ).alias("sq"),
            F.when(
                F.col("l_extendedprice") > 0,
                F.round(F.log("l_extendedprice"), 6),
            ).alias("lg"),
            F.round(F.pow("l_quantity", F.lit(2.0)), 2).alias("qsq"),
            (F.col("l_quantity").cast("bigint") % 7).alias("qmod"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "h_hash_anonymize",
    oracle="""
WITH ids AS (
  SELECT o_custkey, row_number() OVER (ORDER BY o_custkey) AS anon_id
  FROM (SELECT DISTINCT o_custkey FROM orders)
)
SELECT i.anon_id, count(*) AS n_orders, round(sum(o.o_totalprice), 2) AS total
FROM orders o JOIN ids i ON o.o_custkey = i.o_custkey
GROUP BY i.anon_id ORDER BY i.anon_id
""",
    tags=("H4", "E1", "C1"),
)
def h_hash_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4: deterministic surrogate-key assignment — the reference's
    anonymization stage (anon_ticket_number / anon_plate_id): distinct
    natural keys → dense sequential ids → join back. The persistent
    (incremental, max_id+row_number) variant lives in plans/etl.py.

    Note raw hash values (xxhash64/sha2) are never oracle-compared —
    Spark and DuckDB hash primitives differ; we compare the *mapping*.
    """
    o = load_table(spark, sf_dir, "orders")
    ids = (
        o.select("o_custkey")
        .distinct()
        .withColumn("anon_id", F.row_number().over(W.orderBy("o_custkey")))
    )
    return (
        o.join(maybe_broadcast(ids, sf_dir, "orders"), "o_custkey")
        .groupBy("anon_id")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("anon_id")
    )


@register(
    "h_hash_digest",
    oracle="""
SELECT c_custkey, sha256(c_name) AS sha, md5(c_name) AS md5h, TRUE AS xx_ok
FROM customer ORDER BY c_custkey
""",
    tags=("H4",),
)
def h_hash_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4: cryptographic digests as surrogate keys. sha256/md5 hex is
    a STANDARD (identical across engines) → compared value-for-value
    against DuckDB. xxhash64 values are engine-specific, so its
    invariant — injective on this key space, i.e. distinct hashes ==
    distinct names — is computed in-plan as xx_ok; oracle emits TRUE."""
    c = load_table(spark, sf_dir, "customer")
    # hash only NON-NULL names: xxhash64(NULL) returns the seed (a
    # real value), which would make the injectivity census count a
    # phantom hash for an all-NULL column
    xx_ok = c.agg(
        (
            F.countDistinct(
                F.when(F.col("c_name").isNotNull(), F.xxhash64("c_name"))
            )
            == F.countDistinct("c_name")
        ).alias("xx_ok")
    )
    return (
        c.select(
            "c_custkey",
            F.sha2(F.col("c_name"), 256).alias("sha"),
            F.md5(F.col("c_name")).alias("md5h"),
        )
        .crossJoin(F.broadcast(xx_ok))
        .orderBy("c_custkey")
    )


@register(
    "h_array_funcs",
    oracle="""
SELECT vec_id,
  len(embedding) AS dim,
  round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
  round(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 6) AS head_sum,
  round(CAST(list_sort(embedding)[64] AS DOUBLE), 6) AS max_val,
  len(list_filter(embedding, x -> x > 0)) AS n_pos
FROM embeddings ORDER BY vec_id
""",
    tags=("H5",),
)
def h_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H5: array surface — size, indexing, slice, sort, higher-order
    filter/transform/aggregate. Element arithmetic cast to double
    before accumulating so both engines sum identically."""
    e = load_table(spark, sf_dir, "embeddings")
    emb_d = F.col("embedding").cast("array<double>")
    return (
        e.select(
            "vec_id",
            F.size("embedding").alias("dim"),
            F.round(F.element_at(emb_d, 1), 6).alias("first_val"),
            F.round(
                F.aggregate(F.slice(emb_d, 1, 8), F.lit(0.0), lambda s, x: s + x), 6
            ).alias("head_sum"),
            F.round(F.element_at(F.array_sort(emb_d), 64), 6).alias("max_val"),
            F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        )
        .orderBy("vec_id")
    )


@register(
    "h_map_funcs",
    oracle="""
WITH j AS (
  SELECT event_id, CASE WHEN json_valid(props) THEN props END AS jp
  FROM events
),
v AS (
  -- Spark's from_json('map<string,int>') is STRICTLY typed: the whole
  -- map is NULL unless props is a flat JSON object whose every value
  -- is an int or null. Mirror that predicate exactly.
  SELECT event_id, jp,
    coalesce(json_type(jp) = 'OBJECT'
      AND coalesce(list_aggregate(list_transform(json_keys(jp),
            x -> json_type(jp, '$."' || x || '"') = 'NULL'
                 OR try_cast(json_extract_string(jp, '$."' || x || '"')
                             AS INTEGER) IS NOT NULL),
          'bool_and'), TRUE), FALSE) AS is_map
  FROM j
)
SELECT event_id,
  CASE WHEN is_map THEN try_cast(json_extract_string(jp, '$.k') AS INTEGER) END AS k,
  CASE WHEN is_map THEN len(json_keys(jp)) END AS n_keys
FROM v ORDER BY event_id
""",
    tags=("H6", "H7"),
)
def h_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6: JSON→map parse then map ops (element_at / map_keys) — the
    natural Spark handling of the events.props column."""
    e = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return (
        e.select(
            "event_id",
            F.element_at(m, "k").alias("k"),
            F.size(F.map_keys(m)).alias("n_keys"),
        )
        .orderBy("event_id")
    )


@register(
    "h_json_funcs",
    oracle="""
SELECT event_id,
  CAST(json_extract(CASE WHEN json_valid(props) THEN props END, '$.k') AS INT) AS k,
  CAST(json_extract_string(CASE WHEN json_valid(props) THEN props END, '$.k') AS VARCHAR) AS k_str,
  CAST(json_extract(CASE WHEN json_valid(props) THEN props END, '$.missing') AS INT) AS missing_key,
  CASE WHEN CAST(json_extract(CASE WHEN json_valid(props) THEN props END, '$.k') AS INT) >= 50 THEN 'hi' ELSE 'lo' END AS k_band
FROM events ORDER BY event_id
""",
    tags=("H7",),
)
def h_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H7: JSON path extraction (typed + string + missing-key→NULL)
    with downstream conditional logic; get_json_object runs JVM-side."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select(
            "event_id",
            k.alias("k"),
            F.get_json_object("props", "$.k").alias("k_str"),
            F.get_json_object("props", "$.missing").cast("int").alias("missing_key"),
            F.when(k >= 50, "hi").otherwise("lo").alias("k_band"),
        )
        .orderBy("event_id")
    )


@register(
    "h_misc_funcs",
    oracle="""
SELECT n_nationkey,
  greatest(n_nationkey, n_regionkey * 5) AS g,
  least(n_nationkey, n_regionkey * 5) AS l,
  nullif(n_regionkey, 2) AS nr,
  CASE WHEN n_nationkey % 2 = 0 THEN 'even' ELSE 'odd' END AS par,
  coalesce(array_to_string([n_name, r_name], '/'), '') AS path,
  repeat('-', CAST(n_regionkey AS INT) + 1) AS dashes,
  len(range(0, n_regionkey + 1)) AS seq_len
FROM nation JOIN region ON n_regionkey = r_regionkey
ORDER BY n_nationkey
""",
    tags=("H1", "H3", "B6"),
)
def h_misc_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H: conditional/comparison/sequence utilities — greatest, least,
    nullif, parity CASE, array_join, repeat, sequence length."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "n_nationkey",
            F.greatest(F.col("n_nationkey"), F.col("n_regionkey") * 5).alias("g"),
            F.least(F.col("n_nationkey"), F.col("n_regionkey") * 5).alias("l"),
            F.nullif(F.col("n_regionkey"), F.lit(2)).alias("nr"),
            F.when(F.col("n_nationkey") % 2 == 0, "even").otherwise("odd").alias("par"),
            F.array_join(F.array("n_name", "r_name"), "/").alias("path"),
            F.repeat(F.lit("-"), F.col("n_regionkey") + 1).alias("dashes"),
            F.size(F.sequence(F.lit(0), F.col("n_regionkey"))).alias("seq_len"),
        )
        .orderBy("n_nationkey")
    )


@register(
    "h_fuzzy_match",
    oracle="""
WITH probes AS (
  SELECT c_custkey AS probe_key,
         substr(c_name, 1, length(c_name) - 1) || 'X' AS probe_name
  FROM customer WHERE c_custkey % 75 = 0
), scored AS (
  SELECT p.probe_key, c.c_custkey,
         levenshtein(p.probe_name, c.c_name) AS dist
  FROM probes p CROSS JOIN customer c
)
SELECT probe_key,
       min(dist) AS best_dist,
       min(c_custkey) FILTER (WHERE dist = (
         SELECT min(dist) FROM scored s2 WHERE s2.probe_key = scored.probe_key
       )) AS best_custkey,
       count(*) FILTER (WHERE dist = (
         SELECT min(dist) FROM scored s2 WHERE s2.probe_key = scored.probe_key
       )) AS n_at_best
FROM scored GROUP BY probe_key ORDER BY probe_key
""",
    tags=("H1", "C3", "B6"),
)
def h_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy master-data matching: a small dirty batch (last name char
    corrupted) matched against the customer master by Levenshtein
    distance — per probe the best distance, the lowest-key best match
    and the tie count (the corrupted digit position makes every
    sibling key equidistant, so ties are real and the tie-break is
    exercised). The dirty batch broadcasts; the master is scanned
    once — the production shape for 'match this batch of 10k dirty
    records against 100M masters' (blocking keys would cut the master
    scan further; the fixtures' uniform names defeat prefix blocking
    by construction)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    probes = c.filter(F.col("c_custkey") % 75 == 0).select(
        F.col("c_custkey").alias("probe_key"),
        F.concat(
            F.expr("substring(c_name, 1, length(c_name) - 1)"), F.lit("X")
        ).alias("probe_name"),
    )
    scored = c.crossJoin(F.broadcast(probes)).select(
        "probe_key",
        "c_custkey",
        F.levenshtein("probe_name", "c_name").alias("dist"),
    )
    w = W.partitionBy("probe_key")
    return (
        scored.withColumn("best_dist", F.min("dist").over(w))
        .filter(F.col("dist") == F.col("best_dist"))
        .groupBy("probe_key")
        .agg(
            F.min("dist").alias("best_dist"),
            F.min("c_custkey").alias("best_custkey"),
            F.count("*").alias("n_at_best"),
        )
        .orderBy("probe_key")
    )


@register(
    "h_try_arithmetic",
    oracle="""
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(try_cast(concat(CAST(k AS VARCHAR),
        CASE WHEN k % 3 = 0 THEN 'x' ELSE '' END) AS INT)) AS BIGINT) AS sum_clean,
  CAST(count(value / nullif(k % 7, 0)) AS BIGINT) AS n_ratio,
  round(sum(value / nullif(k % 7, 0)), 2)         AS sum_ratio
FROM (SELECT event_type, value,
             CAST(json_extract_string(CASE WHEN json_valid(props) THEN props END, '$.k') AS INT) AS k
      FROM events)
GROUP BY event_type ORDER BY event_type
""",
    tags=("H3", "B2", "B5"),
)
def h_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic family: try_cast on dirty strings and
    try_divide's divide-by-zero → NULL semantics (ANSI-safe pipelines
    keep running instead of failing the stage at row 3 billion).

    Dirty input is constructed deterministically (k with an 'x' suffix
    every third row) so both engines see identical garbage. NULL
    ratios fall out of aggregates on both sides; the oracle spells the
    same semantics with nullif-guarded division.
    """
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    base = e.select("event_type", "value", k.alias("k"))
    dirty = F.concat(
        F.col("k").cast("string"),
        F.when(F.col("k") % 3 == 0, F.lit("x")).otherwise(F.lit("")),
    )
    return (
        base.select(
            "event_type",
            dirty.try_cast("int").alias("clean"),
            F.try_divide(F.col("value"), F.nullif(F.col("k") % 7, F.lit(0))).alias(
                "ratio"
            ),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("clean").alias("sum_clean"),
            F.count("ratio").alias("n_ratio"),
            F.round(F.sum("ratio"), 2).alias("sum_ratio"),
        )
        .orderBy("event_type")
    )


@register(
    "h_url_funcs",
    oracle="""
WITH u AS (
  SELECT 'https://' || regexp_replace(source, '[^A-Za-z0-9.-]', 'x', 'g')
         || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
         || '?lang=' || regexp_replace(lang, '[^A-Za-z0-9.-]', 'x', 'g')
         || '&v=2' AS url
  FROM documents
)
SELECT regexp_extract(url, '^https://([^/]+)/', 1)       AS host,
  regexp_extract(url, '[?&]lang=([^&]*)', 1)             AS qlang,
  CAST(count(*) AS BIGINT)                               AS n,
  min(regexp_extract(url, '^https://[^/]+(/[^?]*)', 1))  AS first_path
FROM u GROUP BY host, qlang ORDER BY host, qlang
""",
    tags=("H1", "H7"),
)
def h_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing family — parse_url(HOST/PATH/QUERY,key) over URLs
    built deterministically from document columns (log/clickstream
    normalization). The oracle spells identical extractions with
    regexes; both stay scalar, codegen'd, shuffle only the grouped
    (host, qlang) counters.
    """
    d = load_table(spark, sf_dir, "documents")
    # URL-unsafe characters (spaces, emoji, ...) are slugged to '-' on
    # BOTH sides before assembly: parse_url under ANSI rejects an
    # invalid authority outright, and real log pipelines normalize the
    # host slug rather than emit invalid URLs
    slug = lambda c: F.regexp_replace(c, "[^A-Za-z0-9.-]", "x")  # noqa: E731
    url = F.concat(
        F.lit("https://"),
        slug(F.col("source")),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        slug(F.col("lang")),
        F.lit("&v=2"),
    )
    u = d.select(url.alias("url"))
    return (
        u.select(
            F.parse_url("url", F.lit("HOST")).alias("host"),
            F.parse_url("url", F.lit("QUERY"), F.lit("lang")).alias("qlang"),
            F.parse_url("url", F.lit("PATH")).alias("path"),
        )
        .groupBy("host", "qlang")
        .agg(F.count("*").alias("n"), F.min("path").alias("first_path"))
        .orderBy("host", "qlang")
    )


@register(
    "h_explode_outer",
    oracle="""
WITH w AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> length(x) > 6) AS longw
  FROM documents
),
ex AS (
  SELECT doc_id, source,
         -- NULL list (NULL text) pads like an empty one: explode_outer
         -- emits one NULL row for both
         unnest(CASE WHEN longw IS NULL OR len(longw) = 0
                THEN [NULL] ELSE longw END) AS word
  FROM w
)
SELECT source,
  CAST(count(*) AS BIGINT)                       AS n_rows,
  CAST(count_if(word IS NULL) AS BIGINT)         AS n_empty_docs,
  CAST(count(DISTINCT word) AS BIGINT)           AS n_distinct_words
FROM ex GROUP BY source ORDER BY source
""",
    tags=("H5", "B5"),
)
def h_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving explode (explode_outer): docs whose long-word
    list is empty still emit one NULL row — the LEFT-JOIN-shaped
    flatten that keeps entity counts stable through normalization
    (plain explode silently drops them; the n_empty_docs column is
    exactly the rows a plain explode would lose).

    Generate(outer) is a narrow op — no shuffle until the per-source
    counters. The oracle emulates it by padding empty lists with
    [NULL] before unnest.
    """
    d = load_table(spark, sf_dir, "documents")
    longw = F.filter(F.split("text", " "), lambda x: F.length(x) > 6)
    return (
        d.select("doc_id", "source", longw.alias("longw"))
        .select("doc_id", "source", F.explode_outer("longw").alias("word"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_rows"),
            F.count_if(F.col("word").isNull()).alias("n_empty_docs"),
            F.countDistinct("word").alias("n_distinct_words"),
        )
        .orderBy("source")
    )


@register(
    "h_generator_funcs",
    oracle="""
WITH words AS (
  SELECT unnest(string_split(p_name, ' ')) AS w,
         generate_subscripts(string_split(p_name, ' '), 1) - 1 AS pos
  FROM part
)
SELECT pos,
  CAST(count(*) AS BIGINT)           AS n,
  CAST(count(DISTINCT w) AS BIGINT)  AS n_words,
  min(w)                             AS first_word,
  max(w)                             AS last_word
FROM words WHERE pos <= 4 GROUP BY pos ORDER BY pos
""",
    tags=("H5", "H1"),
)
def h_generator_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal explosion: posexplode keeps each element's POSITION,
    the piece plain explode drops — required whenever order inside the
    array is data (token positions, path segments, rank lists).

    posexplode is a Generate operator: pure map-side, no shuffle until
    the position rollup. The oracle's generate_subscripts is DuckDB's
    WITH ORDINALITY equivalent (1-based, hence the -1).
    """
    p = load_table(spark, sf_dir, "part")
    words = p.select(
        F.posexplode(F.split("p_name", " ")).alias("pos", "w")
    )
    return (
        words.filter(F.col("pos") <= 4)
        .groupBy("pos")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("w").alias("n_words"),
            F.min("w").alias("first_word"),
            F.max("w").alias("last_word"),
        )
        .orderBy("pos")
    )


@register(
    "h_format_funcs",
    oracle="""
SELECT n_name,
  lpad(n_name, 20, '.')                       AS padded,
  rpad(substring(n_name, 1, 5), 8, '-')       AS clipped,
  translate(n_name, 'AEIOU', 'aeiou')         AS lowered_vowels,
  reverse(n_name)                             AS rev,
  repeat(substring(n_name, 1, 2), 3)          AS rep,
  CAST(length(replace(n_name, ' ', '')) AS BIGINT) AS n_nonspace
FROM nation ORDER BY n_name
""",
    tags=("H1",),
)
def h_format_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String formatting family parity: lpad/rpad (fixed-width report
    columns), translate (character-map cleansing), reverse, repeat,
    and whitespace-stripped length — the remaining H1 surface beyond
    h_string_funcs' case/trim/split coverage.

    All JVM intrinsics inside whole-stage codegen; the entry exists to
    pin cross-engine semantics corners: lpad TRUNCATES when the input
    exceeds the target width, translate with equal-length maps is a
    bijection, repeat(s, 3) concatenates exactly 3 copies.
    """
    n = load_table(spark, sf_dir, "nation")
    return n.select(
        "n_name",
        F.lpad("n_name", 20, ".").alias("padded"),
        F.rpad(F.substring("n_name", 1, 5), 8, "-").alias("clipped"),
        F.translate("n_name", "AEIOU", "aeiou").alias("lowered_vowels"),
        F.reverse("n_name").alias("rev"),
        F.repeat(F.substring("n_name", 1, 2), 3).alias("rep"),
        F.length(F.replace(F.col("n_name"), F.lit(" "), F.lit(""))).alias(
            "n_nonspace"
        ),
    ).orderBy("n_name")


@register(
    "h_variant_funcs",
    oracle="""
WITH parsed AS (
  SELECT event_type,
         CAST(json_extract(CASE WHEN json_valid(props) THEN props END, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type,
  CAST(count(*) AS BIGINT)          AS n,
  CAST(count(k) AS BIGINT)          AS n_with_k,
  CAST(min(k) AS BIGINT)            AS min_k,
  CAST(max(k) AS BIGINT)            AS max_k,
  CAST(sum(k) AS BIGINT)            AS sum_k
FROM parsed GROUP BY event_type ORDER BY event_type
""",
    tags=("H7",),
)
def h_variant_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT: `parse_json` shreds the props JSON string into
    the binary VARIANT encoding once at ingest, and `variant_get`
    navigates it with a typed path — the open-schema column type that
    replaces string-JSON re-parsing per access. At scale the win is
    parse-once: every downstream `variant_get` reads the shredded
    binary instead of re-tokenizing text (and unlike get_json_object,
    the extraction is typed at the expression level).

    `try_parse_json` guards malformed rows (none in the fixture, but
    the call path is the production one). The VARIANT column itself
    never reaches the output — the driver comparator can't hash it —
    only typed extractions do.
    """
    e = load_table(spark, sf_dir, "events")
    parsed = e.select(
        "event_type",
        F.variant_get(F.try_parse_json("props"), "$.k", "bigint").alias("k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count("k").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
        .orderBy("event_type")
    )


@register(
    "h_collation_compare",
    oracle="""
SELECT
  CAST(count(*) FILTER (WHERE lower(c_mktsegment) = 'building') AS BIGINT)
    AS n_eq_ci,
  CAST(count(*) FILTER (WHERE c_mktsegment = 'building') AS BIGINT)
    AS n_eq_cs,
  CAST(count(*) FILTER (WHERE c_name ILIKE '%customer%') AS BIGINT)
    AS n_ilike,
  CAST(count(*) FILTER (WHERE lower(c_mktsegment) IN ('building', 'machinery'))
    AS BIGINT)                                            AS n_in_ci,
  CAST(count(DISTINCT lower(c_mktsegment)) AS BIGINT)     AS n_segments_ci
FROM customer
""",
    tags=("H1", "B4"),
)
def h_collation_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collations: `collate(col, 'UTF8_LCASE')` makes
    equality, IN, and DISTINCT case-insensitive at the COMPARISON
    level — no lower() rewrite of the data, so the original bytes
    survive and (at scale) the optimizer can still use zone
    maps/statistics on the raw column. `ilike` is the pattern-match
    twin. The oracle lowers explicitly — same semantics, pre-collation
    dialect.

    The fixture's segments are uppercase ('BUILDING'), so `n_eq_ci` vs
    `n_eq_cs` (lowercase literal, 0 matches) proves the collation is
    actually doing the comparison, not the data.
    """
    c = load_table(spark, sf_dir, "customer")
    seg_ci = F.collate(F.col("c_mktsegment"), "UTF8_LCASE")
    return c.agg(
        F.count_if(seg_ci == F.lit("building")).alias("n_eq_ci"),
        F.count_if(F.col("c_mktsegment") == "building").alias("n_eq_cs"),
        F.count_if(F.col("c_name").ilike("%customer%")).alias("n_ilike"),
        F.count_if(seg_ci.isin("building", "machinery")).alias("n_in_ci"),
        F.countDistinct(seg_ci).alias("n_segments_ci"),
    )


@register(
    "h_mask_funcs",
    oracle=r"""
WITH raw AS (
  SELECT 'customer' AS src, c_name AS s FROM customer
  UNION ALL
  SELECT 'part' AS src, p_name AS s FROM part
),
masked AS (
  -- Unicode categories (\p{Lu}/\p{Ll}/\p{Nd}), not ASCII classes:
  -- Spark's mask() classifies by Character.isUpper/Lower/Digit, which
  -- covers the full Unicode range
  SELECT src, regexp_replace(
           regexp_replace(
             regexp_replace(s, '\p{Lu}', 'X', 'g'),
             '\p{Ll}', 'x', 'g'),
           '\p{Nd}', 'n', 'g') AS pattern
  FROM raw
)
SELECT src, pattern, CAST(count(*) AS BIGINT) AS n
FROM masked GROUP BY src, pattern ORDER BY n DESC, src, pattern LIMIT 15
""",
    tags=("H1", "H4"),
)
def h_mask_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking with the engine's `mask` function (upper→X,
    lower→x, digit→n, punctuation preserved) plus the standard
    follow-up: profile the masked PATTERNS. Pattern profiling over
    masked data is how a pipeline audits free-text columns for
    structure (and for unmasked leakage — an unexpected pattern is a
    finding) without ever shipping the raw values.

    Spark's `mask()` is a single JVM expression; the oracle reproduces
    it with three regexp passes. Pattern cardinality is tiny by
    construction, so the count shuffle is bounded by pattern space,
    not rows.
    """
    c = load_table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("src"), F.col("c_name").alias("s")
    )
    p = load_table(spark, sf_dir, "part").select(
        F.lit("part").alias("src"), F.col("p_name").alias("s")
    )
    return (
        c.unionByName(p)
        .select("src", F.mask(F.col("s")).alias("pattern"))
        .groupBy("src", "pattern")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("src"), F.col("pattern"))
        .limit(15)
    )


@register(
    "h_sql_parameters",
    oracle="""
SELECT o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
WHERE o_totalprice > 200000 AND o_orderstatus = 'O'
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    tags=("B3", "D1"),
)
def h_sql_parameters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 parameterized SQL: named scalar parameters (`:thr`,
    `:status`) bound server-side — injection-safe, plan-cache-friendly
    — plus DataFrame template binding (`{orders}` interpolates a
    DataFrame into the query without registering a temp view). The
    pair replaces f-string SQL assembly, the classic source of both
    injection bugs and accidental plan-cache misses.
    """
    o = load_table(spark, sf_dir, "orders")
    return spark.sql(
        """
SELECT o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM {orders}
WHERE o_totalprice > :thr AND o_orderstatus = :status
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
        args={"thr": 200000, "status": "O"},
        orders=o,
    )


@register(
    "h_bitmap_distinct",
    oracle="""
SELECT l_returnflag,
  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
    tags=("D2", "D3", "H3"),
)
def h_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregates
    (bitmap_bucket_number / bitmap_bit_position /
    bitmap_construct_agg / bitmap_count — Spark 3.5+): each 32k-id
    bucket becomes one dense bitmap, buckets merge by OR, and the
    final count sums per-bucket popcounts. Unlike count(DISTINCT) the
    intermediate state is MERGEABLE (pre-aggregate per partition,
    union later — the same contract as d_partial_agg_merge), and
    unlike HLL it is exact; the cost model is id-density, which is
    why it's the warehouse pattern for dense surrogate keys.

    The oracle recomputes with plain COUNT(DISTINCT): bit-identical
    results prove the bitmap path drops nothing.
    """
    l = load_table(spark, sf_dir, "lineitem")

    def bitmap_distinct(key: str, out: str) -> DataFrame:
        per_bucket = (
            l.groupBy(
                "l_returnflag",
                F.bitmap_bucket_number(F.col(key)).alias("bucket"),
            )
            .agg(
                F.bitmap_construct_agg(F.bitmap_bit_position(F.col(key))).alias("bm")
            )
        )
        return per_bucket.groupBy("l_returnflag").agg(
            F.sum(F.bitmap_count("bm")).alias(out)
        )

    parts = bitmap_distinct("l_partkey", "n_parts")
    supps = bitmap_distinct("l_suppkey", "n_supps")
    # null-safe equality: a NULL returnflag group must survive the
    # two-branch join exactly like SQL GROUP BY keeps it
    return (
        parts.join(
            supps,
            parts["l_returnflag"].eqNullSafe(supps["l_returnflag"]),
        )
        .select(parts["l_returnflag"], "n_parts", "n_supps")
        .orderBy("l_returnflag")
    )


@register(
    "h_nested_shred",
    oracle="""
SELECT l_returnflag,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem
GROUP BY l_returnflag ORDER BY l_returnflag
""",
    tags=("H7", "H5", "B2"),
)
def h_nested_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested semi-structured round-trip: lineitems are packed into
    one JSON document per order (array-of-structs payload, the shape
    ingestion actually receives from APIs), then shredded back with
    an explicit schema — to_json(struct(collect_list(...))) →
    from_json → explode — and re-aggregated. The oracle computes the
    same aggregate straight from the relational source, so a green
    row proves the build→parse→flatten path is LOSSLESS (no dropped
    array elements, no type coercion drift through the string form).
    collect_list order is made deterministic with sort_array before
    serialization; arrays exist only mid-plan, never in the output.
    """
    l = load_table(spark, sf_dir, "lineitem")
    line = F.struct(
        F.col("l_linenumber").alias("ln"),
        F.col("l_returnflag").alias("rf"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
    )
    docs = (
        l.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list(line)).alias("lines"))
        .select(
            "l_orderkey",
            F.to_json(F.struct(F.col("l_orderkey").alias("ok"), F.col("lines"))).alias("doc"),
        )
    )
    schema = T.StructType(
        [
            T.StructField("ok", T.LongType()),
            T.StructField(
                "lines",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("ln", T.IntegerType()),
                            T.StructField("rf", T.StringType()),
                            T.StructField("qty", T.LongType()),
                            T.StructField("cents", T.LongType()),
                        ]
                    )
                ),
            ),
        ]
    )
    shredded = (
        docs.select(F.from_json("doc", schema).alias("p"))
        .select(F.col("p.ok").alias("ok"), F.explode("p.lines").alias("line"))
        .select("ok", "line.rf", "line.qty", "line.cents")
    )
    return (
        shredded.groupBy(F.col("rf").alias("l_returnflag"))
        .agg(
            F.sum("qty").alias("qty"),
            F.sum("cents").alias("cents"),
            F.count("*").alias("n_lines"),
            F.countDistinct("ok").alias("n_orders"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "h_lambda_quantifiers",
    oracle="""
WITH per AS (
  SELECT vec_id, label,
    len(list_filter(embedding, x -> x > 0.25)) > 0              AS has_hot,
    len(list_filter(embedding, x -> NOT (x > -0.9))) = 0        AS all_above,
    CAST(round(list_sum([CAST(embedding[i] AS DOUBLE)
                          * CAST(embedding[len(embedding) + 1 - i] AS DOUBLE)
                          FOR i IN generate_series(1, len(embedding))]) * 1000, 0)
         AS BIGINT)                                             AS mirror_dot_milli
  FROM embeddings
)
SELECT label,
  CAST(count(*) AS BIGINT)                       AS n,
  CAST(sum(CASE WHEN has_hot THEN 1 ELSE 0 END) AS BIGINT)  AS n_has_hot,
  CAST(sum(CASE WHEN all_above THEN 1 ELSE 0 END) AS BIGINT) AS n_all_above,
  CAST(sum(mirror_dot_milli) AS BIGINT)          AS sum_mirror_milli
FROM per GROUP BY label ORDER BY label
""",
    tags=("H5",),
)
def h_lambda_quantifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda quantifiers over array columns: exists (any element hot),
    forall (all elements above a floor), and zip_with pairing each
    embedding with its own reversal (an index-aligned two-array
    combine with no explode). All three run as JVM higher-order
    expressions inside codegen — the 100-TB-safe way to scan vector
    columns without Python or a Generate blow-up.

    Determinism: the mirror dot is Σ eᵢ·e₍ₙ₊₁₋ᵢ₎ accumulated left to
    right in BOTH engines (Spark zip_with+aggregate folds in array
    order; the oracle's list comprehension builds the same ordered
    list for list_sum), and each float is widened to double before
    multiply — identical IEEE operation sequence, then one shared
    round to milli-units.
    """
    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mirror = F.zip_with(dbl, F.reverse(dbl), lambda a, b: a * b)
    per = e.select(
        "label",
        F.exists(F.col("embedding"), lambda x: x > 0.25).alias("has_hot"),
        F.forall(F.col("embedding"), lambda x: x > -0.9).alias("all_above"),
        F.round(
            F.aggregate(mirror, F.lit(0.0), lambda acc, x: acc + x) * 1000, 0
        ).cast("long").alias("mirror_dot_milli"),
    )
    return (
        per.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            # when/otherwise(0) like the oracle's CASE … ELSE 0: NULL
            # embeddings count 0, never propagate NULL into the sums
            F.sum(F.when(F.col("has_hot"), 1).otherwise(0).cast("long")).alias(
                "n_has_hot"
            ),
            F.sum(
                F.when(F.col("all_above"), 1).otherwise(0).cast("long")
            ).alias("n_all_above"),
            F.sum("mirror_dot_milli").alias("sum_mirror_milli"),
        )
        .orderBy("label")
    )


@register(
    "h_group_by_all",
    oracle="""
SELECT l_returnflag, l_linestatus,
  year(l_shipdate) AS ship_year,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
  CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY ALL ORDER BY ALL
""",
    tags=("D1", "H2"),
)
def h_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL — the analyst-SQL sugar (every
    non-aggregate select item becomes a grouping key, then the full
    key list orders the output) that Spark 4 and DuckDB both resolve;
    a green row proves both engines infer the SAME key set and the
    same total order from the identical query text.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
SELECT l_returnflag, l_linestatus,
  year(l_shipdate) AS ship_year,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
  CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY ALL ORDER BY ALL
"""
    )


@register(
    "h_record_linkage",
    oracle="""
WITH master AS (
  SELECT c_custkey, lower(c_name) AS name_norm, c_nationkey,
    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
  FROM customer
),
dirty AS (
  SELECT c_custkey AS true_key,
    CASE WHEN c_custkey % 5 = 0
         THEN replace(lower(c_name), 'customer', 'cstmr')
         ELSE lower(c_name) END AS name_norm,
    c_nationkey,
    CAST(round(c_acctbal * 100, 0) AS BIGINT) + c_custkey % 7 - 3 AS cents
  FROM customer
),
cand AS (
  SELECT d.true_key, m.c_custkey AS cand_key,
    (CASE WHEN d.name_norm = m.name_norm THEN 40 ELSE 0 END
     + CASE WHEN abs(d.cents - m.cents) <= 3 THEN 30 ELSE 0 END
     + 10) AS score
  FROM dirty d JOIN master m
    ON d.c_nationkey = m.c_nationkey
   AND d.cents // 1000 = m.cents // 1000
),
best AS (
  SELECT true_key, cand_key, score,
    row_number() OVER (PARTITION BY true_key ORDER BY score DESC, cand_key) AS rn
  FROM cand WHERE score >= 50
)
SELECT
  CAST((SELECT count(*) FROM dirty) AS BIGINT) AS n_dirty,
  CAST(count(*) AS BIGINT) AS n_linked,
  CAST(sum(CASE WHEN true_key = cand_key THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
  CAST(sum(CASE WHEN true_key <> cand_key THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong
FROM best WHERE rn = 1
""",
    tags=("H1", "C1", "H4"),
)
def h_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage (MDM / entity resolution): a deterministically
    dirtied customer feed (every 5th name corrupted, account balance
    jittered ±3 cents) links back to the master via BLOCKING
    (nation × $10 balance band — candidate pairs are linear, never
    customer²) and Fellegi-Sunter-style field-agreement scores
    (name 40, balance-within-3 30, block 10; accept ≥50, best score
    wins with a key tie-break). Because ground truth is known, the
    report MEASURES link accuracy (n_correct / n_wrong) — the
    precision audit every linkage deployment needs. Jitter crossing
    a band edge loses the candidate identically on both engines
    (blocking recall is part of what's being measured).
    """
    c = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    master = c.select(
        "c_custkey",
        F.lower("c_name").alias("name_norm"),
        "c_nationkey",
        cents.alias("cents"),
    )
    dirty = c.select(
        F.col("c_custkey").alias("true_key"),
        F.when(
            F.col("c_custkey") % 5 == 0,
            F.replace(F.lower("c_name"), F.lit("customer"), F.lit("cstmr")),
        )
        .otherwise(F.lower("c_name"))
        .alias("d_name"),
        F.col("c_nationkey").alias("d_nat"),
        (cents + F.col("c_custkey") % 7 - 3).alias("d_cents"),
    )
    cand = dirty.join(
        master,
        (F.col("d_nat") == master.c_nationkey)
        & (F.expr("d_cents div 1000") == F.expr("cents div 1000")),
    ).select(
        "true_key",
        F.col("c_custkey").alias("cand_key"),
        (
            F.when(F.col("d_name") == master.name_norm, 40).otherwise(0)
            + F.when(F.abs(F.col("d_cents") - F.col("cents")) <= 3, 30).otherwise(0)
            + F.lit(10)
        ).alias("score"),
    )
    w = W.partitionBy("true_key").orderBy(F.desc("score"), "cand_key")
    best = (
        cand.filter(F.col("score") >= 50)
        .select("true_key", "cand_key", "score", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
    )
    n_dirty = dirty.agg(F.count("*").alias("nd"))
    return (
        best.agg(
            F.count("*").alias("n_linked"),
            F.sum(F.when(F.col("true_key") == F.col("cand_key"), 1).otherwise(0)).alias(
                "n_correct"
            ),
            F.sum(F.when(F.col("true_key") != F.col("cand_key"), 1).otherwise(0)).alias(
                "n_wrong"
            ),
        )
        .crossJoin(F.broadcast(n_dirty))
        .select(
            F.col("nd").alias("n_dirty"), "n_linked", "n_correct", "n_wrong"
        )
    )


@register(
    "h_binary_encoding",
    oracle="""
WITH enc AS (
  SELECT c_custkey,
    base64(encode(c_name)) AS b64,
    lower(hex(encode(c_name))) AS hx
  FROM customer
)
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(DISTINCT b64) AS BIGINT) AS n_distinct_b64,
  CAST(count(DISTINCT hx) AS BIGINT) AS n_distinct_hex,
  CAST(sum(length(b64)) AS BIGINT) AS total_b64_chars,
  CAST(sum(length(hx)) AS BIGINT) AS total_hex_chars
FROM enc
""",
    tags=("H1", "H4", "B2"),
)
def h_binary_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary encoding parity: names encode to UTF-8 bytes, then to
    base64 and hex — the wire formats every export/API layer uses.
    Distinct counts prove injectivity survived both encodings
    (padding and alphabet handled identically), and total encoded
    lengths pin the exact formatting (base64 pads to 4-char groups,
    hex doubles the byte count — both engines must agree to the
    character). Hex case is normalized (Spark emits uppercase,
    DuckDB lowercase — the one formatting divergence, measured).
    """
    c = load_table(spark, sf_dir, "customer")
    enc = c.select(
        # strip chunk linebreaks: Spark's base64 MIME-wraps at 76
        # chars; the unchunked form is the cross-engine wire format
        F.regexp_replace(
            F.base64(F.encode("c_name", "UTF-8")), "[\\r\\n]", ""
        ).alias("b64"),
        F.lower(F.hex(F.encode("c_name", "UTF-8"))).alias("hx"),
    )
    return enc.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("b64").alias("n_distinct_b64"),
        F.countDistinct("hx").alias("n_distinct_hex"),
        F.sum(F.length("b64")).alias("total_b64_chars"),
        F.sum(F.length("hx")).alias("total_hex_chars"),
    )


@register(
    "h_edit1_neighborhood_join",
    oracle="""
WITH names AS (
  SELECT DISTINCT c_name AS nm FROM customer
),
variants AS (
  SELECT nm, nm AS v FROM names
  UNION ALL
  SELECT nm, substr(nm, 1, i - 1) || substr(nm, i + 1) AS v
  FROM names, unnest(generate_series(1, length(nm))) AS t(i)
),
cand AS (
  SELECT DISTINCT a.nm AS nm_a, b.nm AS nm_b
  FROM variants a JOIN variants b ON a.v = b.v AND a.nm < b.nm
),
verified AS (
  SELECT nm_a, nm_b FROM cand WHERE levenshtein(nm_a, nm_b) <= 1
)
SELECT
  CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(count(DISTINCT nm_a) AS BIGINT) AS n_left_names,
  CAST(min(levenshtein(nm_a, nm_b)) AS BIGINT) AS min_dist,
  CAST(max(levenshtein(nm_a, nm_b)) AS BIGINT) AS max_dist
FROM verified
""",
    tags=("H1", "C1", "J6"),
)
def h_edit1_neighborhood_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 self-join via DELETION NEIGHBORHOODS (FastSS):
    every name generates its |name|+1 single-deletion variants; two
    names within edit distance 1 MUST share a variant, so candidate
    pairs come from an equi-join on variant strings — O(n·len)
    blocking instead of the O(n²) all-pairs levenshtein (the
    ID-like fixture names make near-miss pairs abundant: ids
    differing in one digit collide on the common deletion). The
    cheap exact levenshtein verify runs only on candidates. This is
    the technique that scales typo-matching to 100 TB; counts and
    distance bounds are exact on both engines.
    """
    c = load_table(spark, sf_dir, "customer")
    names = c.select(F.col("c_name").alias("nm")).distinct()
    dels = names.select(
        "nm",
        F.explode(
            F.expr(
                "concat(array(nm), transform(sequence(1, length(nm)),"
                " i -> concat(substring(nm, 1, i - 1), substring(nm, i + 1, length(nm)))))"
            )
        ).alias("v"),
    )
    a = dels.alias("a")
    b = dels.alias("b")
    cand = (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.nm") < F.col("b.nm")))
        .select(F.col("a.nm").alias("nm_a"), F.col("b.nm").alias("nm_b"))
        .distinct()
    )
    verified = cand.filter(F.levenshtein("nm_a", "nm_b") <= 1)
    return verified.agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("nm_a").alias("n_left_names"),
        F.min(F.levenshtein("nm_a", "nm_b")).cast("long").alias("min_dist"),
        F.max(F.levenshtein("nm_a", "nm_b")).cast("long").alias("max_dist"),
    )


@register(
    "h_array_set_ops",
    oracle="""
WITH pairs AS (
  SELECT o_orderkey,
    [CAST(o_orderkey % 7 AS BIGINT), CAST(o_orderkey % 5 AS BIGINT),
     CAST(o_orderkey % 3 AS BIGINT)] AS a,
    [CAST(o_orderkey % 5 AS BIGINT), CAST(o_orderkey % 4 AS BIGINT),
     CAST(o_orderkey % 3 AS BIGINT)] AS b
  FROM orders
),
sized AS (
  SELECT
    len(list_distinct(list_concat(a, b))) AS u,
    len(list_intersect(list_distinct(a), list_distinct(b))) AS i,
    len(list_filter(list_distinct(a), x -> NOT list_contains(b, x))) AS d,
    len(list_filter(list_distinct(b), x -> NOT list_contains(a, x))) AS d2
  FROM pairs
)
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(u) AS BIGINT) AS sum_union_sz,
  CAST(sum(i) AS BIGINT) AS sum_intersect_sz,
  CAST(sum(d) AS BIGINT) AS sum_except_sz,
  bool_and(u = i + d + d2) AS inclusion_exclusion_ok
FROM sized
""",
    tags=("H5",),
)
def h_array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set-operation parity: per-row union / intersect / except
    sizes over derived integer arrays, plus the inclusion-exclusion
    identity |A∪B| = |A∩B| + |A\\B| + |B\\A| asserted row-wise — the
    set algebra ETL uses for tag columns. Spark's array_union /
    array_intersect / array_except dedupe their outputs; the oracle
    mirrors with list_distinct-based equivalents, so the sizes agree
    exactly.
    """
    o = load_table(spark, sf_dir, "orders")
    pairs = o.select(
        F.expr(
            "array(cast(o_orderkey % 7 as bigint), cast(o_orderkey % 5 as bigint),"
            " cast(o_orderkey % 3 as bigint))"
        ).alias("a"),
        F.expr(
            "array(cast(o_orderkey % 5 as bigint), cast(o_orderkey % 4 as bigint),"
            " cast(o_orderkey % 3 as bigint))"
        ).alias("b"),
    )
    sized = pairs.select(
        F.size(F.array_union("a", "b")).alias("u"),
        F.size(F.array_intersect("a", "b")).alias("i"),
        F.size(F.array_except("a", "b")).alias("d"),
        F.size(F.array_except("b", "a")).alias("d2"),
    )
    return sized.agg(
        F.count("*").alias("n_rows"),
        F.sum("u").alias("sum_union_sz"),
        F.sum("i").alias("sum_intersect_sz"),
        F.sum("d").alias("sum_except_sz"),
        F.bool_and(
            F.col("u") == F.col("i") + F.col("d") + F.col("d2")
        ).alias("inclusion_exclusion_ok"),
    )


@register(
    "h_aes_roundtrip",
    oracle="""
SELECT
  CAST(count(*) AS BIGINT) AS n_docs,
  TRUE AS roundtrip_ok,
  'Wx6puX+cj/3bVmaYV/jB4Q==' AS fixed_ct_b64
FROM documents
""",
    tags=("H4",),
)
def h_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level AES encryption (the at-rest PII path beyond
    hashing — reversible with the key, unlike h_hash_anonymize).
    In-plan invariant: decrypt(encrypt(text)) == text for every
    document under AES-GCM (random IV, the production mode), checked
    as one boolean the oracle reproduces as TRUE; plus the ECB
    ciphertext of a fixed literal under a fixed key, which is
    deterministic by construction — the oracle pins the exact base64
    (DuckDB has no AES, so the expected value is embedded, computed
    once from the JDK implementation). All JVM-side codegen
    expressions — no UDF."""
    d = load_table(spark, sf_dir, "documents")
    key = F.lit("0123456789abcdef")
    rt = F.expr(
        "cast(aes_decrypt(aes_encrypt(text, '0123456789abcdef'),"
        " '0123456789abcdef') as string)"
    )
    return d.agg(
        F.count("*").alias("n_docs"),
        # null-safe <=>: a NULL document must roundtrip to NULL (plain
        # = yields NULL and every() would go NULL); coalesce makes the
        # zero-document corpus vacuously TRUE like the oracle literal
        F.coalesce(
            F.every(rt.eqNullSafe(F.col("text"))), F.lit(True)
        ).alias("roundtrip_ok"),
        F.base64(
            F.expr("aes_encrypt('spark-graft', '0123456789abcdef', 'ECB')")
        ).alias("fixed_ct_b64"),
    )


@register(
    "h_regexp_count_instr",
    oracle="""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_numbers,
  CAST(len(regexp_extract_all(lower(text), '\\bthe\\b')) AS BIGINT)
    AS n_the,
  CAST(CASE WHEN text IS NULL THEN NULL
       WHEN regexp_matches(text, '[0-9]')
       THEN length(regexp_extract(text, '^([^0-9]*)', 1)) + 1
       ELSE 0 END AS BIGINT) AS first_digit_pos
FROM documents WHERE doc_id < 50 ORDER BY doc_id
""",
    tags=("H1",),
)
def h_regexp_count_instr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_count / regexp_instr — the occurrence-census regex
    surface beyond extraction: how many number literals and how many
    'the' tokens each document holds, and where the first digit sits
    (1-based; 0 = none). The oracle's engine has no regexp_instr, so
    position is cross-checked structurally: length of the non-digit
    prefix + 1 — a different formulation that must agree exactly,
    which is the point of the parity check. All three are codegen'd
    JVM regex ops on the Spark side."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return (
        d.select(
            "doc_id",
            F.regexp_count(F.col("text"), F.lit(r"[0-9]+")).cast("long").alias(
                "n_numbers"
            ),
            F.regexp_count(F.lower(F.col("text")), F.lit(r"\bthe\b"))
            .cast("long")
            .alias("n_the"),
            F.regexp_instr(F.col("text"), F.lit(r"[0-9]")).cast("long").alias(
                "first_digit_pos"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "h_luhn_check",
    oracle="""
WITH nums AS (
  SELECT o_orderkey, lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS s
  FROM orders WHERE o_orderkey < 4000
),
digits AS (
  SELECT o_orderkey,
    list_sum([
      CASE WHEN (12 - i) % 2 = 0
        THEN CAST(substr(s, i, 1) AS INT)
        ELSE CASE WHEN CAST(substr(s, i, 1) AS INT) * 2 > 9
             THEN CAST(substr(s, i, 1) AS INT) * 2 - 9
             ELSE CAST(substr(s, i, 1) AS INT) * 2 END
      END
      FOR i IN range(1, 13)]) AS luhn_sum
  FROM nums
)
SELECT
  CAST(count(*) AS BIGINT) AS n_keys,
  CAST(count(*) FILTER (WHERE luhn_sum % 10 = 0) AS BIGINT) AS n_valid,
  CAST(sum(luhn_sum) AS BIGINT) AS total_luhn_sum
FROM digits
""",
    tags=("H3", "H4"),
)
def h_luhn_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn check-digit validation (the card/IMEI/account-number
    checksum): each order key, zero-padded to 12 digits, is scored by
    the Luhn rule — double every second digit from the right, subtract
    9 when the double exceeds 9, sum all — and a key 'validates' when
    the sum is ≡ 0 (mod 10). Pure higher-order array expressions over
    an index sequence (transform + aggregate, JVM codegen); the oracle
    builds the same sum with a list comprehension. The op a payments
    ingest runs on every record before anything else."""
    nums = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select(
            "o_orderkey",
            F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("s"),
        )
    )
    luhn_sum = F.expr(
        """
        aggregate(
          transform(sequence(1, 12), i ->
            CASE WHEN (12 - i) % 2 = 0
              THEN cast(substr(s, i, 1) as int)
              ELSE CASE WHEN cast(substr(s, i, 1) as int) * 2 > 9
                   THEN cast(substr(s, i, 1) as int) * 2 - 9
                   ELSE cast(substr(s, i, 1) as int) * 2 END
            END),
          0, (acc, x) -> acc + x)
        """
    )
    d = nums.select("o_orderkey", luhn_sum.alias("luhn_sum"))
    return d.agg(
        F.count("*").alias("n_keys"),
        F.count(F.when(F.col("luhn_sum") % 10 == 0, 1)).alias("n_valid"),
        F.sum("luhn_sum").alias("total_luhn_sum"),
    )


@register(
    "h_ipv4_funcs",
    oracle="""
WITH ips AS (
  SELECT user_id,
    ((user_id * 2654435761) % 4294967296)::BIGINT AS ip_int
  FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 200)
),
quad AS (
  SELECT user_id, ip_int,
    CAST(ip_int // 16777216 AS VARCHAR) || '.' ||
    CAST((ip_int // 65536) % 256 AS VARCHAR) || '.' ||
    CAST((ip_int // 256) % 256 AS VARCHAR) || '.' ||
    CAST(ip_int % 256 AS VARCHAR) AS dotted
  FROM ips
),
parsed AS (
  SELECT user_id, ip_int, dotted,
    CAST(string_split(dotted, '.')[1] AS BIGINT) * 16777216 +
    CAST(string_split(dotted, '.')[2] AS BIGINT) * 65536 +
    CAST(string_split(dotted, '.')[3] AS BIGINT) * 256 +
    CAST(string_split(dotted, '.')[4] AS BIGINT) AS reparsed
  FROM quad
)
SELECT
  CAST(count(*) AS BIGINT) AS n_ips,
  bool_and(reparsed = ip_int) AS roundtrip_ok,
  CAST(count(DISTINCT ip_int // 65536) AS BIGINT) AS n_slash16,
  CAST(max(ip_int % 256) AS BIGINT) AS max_last_octet
FROM parsed
""",
    tags=("H1", "H3"),
)
def h_ipv4_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4 integer ↔ dotted-quad conversion: synthetic per-user IPs
    (Knuth multiplicative hash mod 2³²) are formatted to dotted-quad
    with integer octet math, re-parsed by splitting the string, and
    proven to round-trip exactly; /16 subnet grouping on the integer
    form. The network-address surface (format, parse, subnet bucket)
    a clickstream geo/abuse pipeline applies to every row — all
    codegen'd integer and string ops, no UDF."""
    ips = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 200)
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            F.expr("(user_id * 2654435761L) % 4294967296L").alias("ip_int"),
        )
    )
    quad = ips.select(
        "user_id",
        "ip_int",
        F.concat_ws(
            ".",
            F.expr("cast(ip_int div 16777216 as string)"),
            F.expr("cast((ip_int div 65536) % 256 as string)"),
            F.expr("cast((ip_int div 256) % 256 as string)"),
            F.expr("cast(ip_int % 256 as string)"),
        ).alias("dotted"),
    )
    parsed = quad.select(
        "ip_int",
        F.expr(
            "cast(split(dotted, '\\\\.')[0] as bigint) * 16777216 +"
            "cast(split(dotted, '\\\\.')[1] as bigint) * 65536 +"
            "cast(split(dotted, '\\\\.')[2] as bigint) * 256 +"
            "cast(split(dotted, '\\\\.')[3] as bigint)"
        ).alias("reparsed"),
    )
    return parsed.agg(
        F.count("*").alias("n_ips"),
        F.every(F.col("reparsed") == F.col("ip_int")).alias("roundtrip_ok"),
        F.countDistinct(F.expr("ip_int div 65536")).alias("n_slash16"),
        F.max(F.col("ip_int") % 256).alias("max_last_octet"),
    )


@register(
    "h_sql_udf",
    oracle="""
WITH tiers AS (SELECT unnest(range(1, 4)) AS tier)
SELECT t.tier,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT))
       AS BIGINT) AS rev_cents
FROM lineitem l JOIN tiers t
  ON l.l_quantity > (t.tier - 1) * 15 AND l.l_quantity <= t.tier * 15
GROUP BY t.tier ORDER BY t.tier
""",
    tags=("H3", "K1"),
)
def h_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined functions — Spark 4's CREATE FUNCTION surface, the
    UDF that never leaves the JVM: a scalar SQL UDF (revenue in exact
    cents) and a TABLE function (quantity-tier generator) are declared
    in SQL, and because their bodies are Catalyst expressions they
    inline into the plan — full codegen, pushdown, none of the Python
    serialization tax of K1. The query buckets lineitems into the
    table-function's tiers and totals revenue through the scalar
    function. Session-scoped names are pid-suffixed (the concurrent
    gate lesson)."""
    pid = os.getpid()
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView(f"li_sqludf_{pid}")
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY FUNCTION rev_cents_{pid}(p DOUBLE, d DOUBLE) "
        "RETURNS BIGINT RETURN CAST(round(p * (1 - d) * 100, 0) AS BIGINT)"
    )
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY FUNCTION qty_tiers_{pid}(n INT) "
        "RETURNS TABLE(tier INT) RETURN SELECT explode(sequence(1, n)) AS tier"
    )
    return spark.sql(
        f"""
        SELECT t.tier,
          count(*) AS n_lines,
          sum(rev_cents_{pid}(l.l_extendedprice, l.l_discount)) AS rev_cents
        FROM li_sqludf_{pid} l JOIN qty_tiers_{pid}(3) t
          ON l.l_quantity > (t.tier - 1) * 15 AND l.l_quantity <= t.tier * 15
        GROUP BY t.tier ORDER BY t.tier
        """
    )


@register(
    "h_sql_scripting",
    oracle="""
WITH thresholds AS (
  SELECT unnest(range(0, 40)) AS k
),
counts AS (
  SELECT k, power(2, k)::BIGINT AS t,
    (SELECT count(*) FROM orders
     WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) > power(2, k)::BIGINT)
      AS n_above
  FROM thresholds
)
SELECT CAST(t AS BIGINT) AS threshold_cents,
  CAST(n_above AS BIGINT) AS n_above
FROM counts WHERE n_above < 100 ORDER BY k LIMIT 1
""",
    tags=("H3", "B6"),
)
def h_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN/DECLARE/WHILE): an iterative
    threshold search — double a cents threshold until fewer than 100
    orders exceed it — runs ENTIRELY inside one spark.sql() call with
    server-side control flow; the loop variables live in session
    variables. Round-11 (guide §1.2 step 1): the loop used to issue a
    full distributed count PER ITERATION (~27 scans of orders to find
    the fixed point); every count it can ever need is count_if(c > 2^k)
    for k = 0..62, so ONE aggregate pass now fills a session-variable
    map and the WHILE walks the map — same doubling search over
    bit-identical counts (count_if(c > t) ≡ count(*) WHERE c > t; NULL
    cents excluded by both), one scan instead of one per iteration.
    n_above(2^62) = 0 < 100 bounds the walk inside the map's keys. The
    oracle finds the same fixed point declaratively (min power of two
    with count < 100) — proving the imperative search and the
    declarative formulation agree."""
    pid = os.getpid()
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView(f"orders_script_{pid}")
    pairs = ", ".join(
        f"{1 << k}L, count_if(c > {1 << k}L)" for k in range(63)
    )
    return spark.sql(
        f"""
        BEGIN
          DECLARE hist MAP<BIGINT, BIGINT>;
          DECLARE t BIGINT DEFAULT 1;
          DECLARE n BIGINT DEFAULT 9223372036854775807;
          SET hist = (
            SELECT map({pairs})
            FROM (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
                  FROM orders_script_{pid})
          );
          WHILE element_at(hist, t) >= 100 DO
            SET t = t * 2;
          END WHILE;
          SET n = element_at(hist, t);
          SELECT t AS threshold_cents, n AS n_above;
        END
        """
    )


@register(
    "h_xml_expr",
    oracle="""
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  TRUE AS struct_roundtrip_ok,
  TRUE AS xpath_matches
FROM orders WHERE o_orderkey < 2000
""",
    tags=("H7",),
)
def h_xml_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML expression family: every order row is serialized with
    to_xml(struct(...)), parsed back with from_xml, and ALSO probed
    with xpath_long — both recoveries must equal the original key on
    every row, checked in-plan (the oracle's engine has no XML
    functions, so the proof is the boolean pair + exact row count).
    All three functions are JVM expressions inside codegen — the
    fast path for XML-in-string columns arriving from message
    queues."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderpriority")
    )
    xml = o.withColumn(
        "x",
        F.expr("to_xml(struct(o_orderkey, o_orderpriority))"),
    )
    checked = xml.select(
        "o_orderkey",
        F.expr(
            "from_xml(x, 'o_orderkey BIGINT, o_orderpriority STRING').o_orderkey"
        ).alias("rt_key"),
        F.expr("xpath_long(x, '/ROW/o_orderkey')").alias("xp_key"),
    )
    # every() over zero rows is NULL; an empty probe set passes
    # vacuously (the oracle pins literal TRUE)
    return checked.agg(
        F.count("*").alias("n_rows"),
        F.coalesce(
            F.every(F.col("rt_key") == F.col("o_orderkey")), F.lit(True)
        ).alias("struct_roundtrip_ok"),
        F.coalesce(
            F.every(F.col("xp_key") == F.col("o_orderkey")), F.lit(True)
        ).alias("xpath_matches"),
    )


@register(
    "h_csv_expr",
    oracle="""
WITH built AS (
  SELECT o_orderkey,
    CAST(o_orderkey AS VARCHAR) || ',' || coalesce(o_orderpriority, 'UNKNOWN')
      || ',' ||
      coalesce(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), '')
      AS line
  FROM orders WHERE o_orderkey < 2000
),
parsed AS (
  SELECT o_orderkey,
    CAST(string_split(line, ',')[1] AS BIGINT) AS k,
    string_split(line, ',')[2] AS pri,
    try_cast(string_split(line, ',')[3] AS BIGINT) AS cents
  FROM built
)
SELECT pri,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(cents) AS BIGINT) AS cents,
  bool_and(k = o_orderkey) AS key_roundtrip_ok
FROM parsed GROUP BY pri ORDER BY pri
""",
    tags=("H7", "A2"),
)
def h_csv_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV-in-a-column: to_csv(struct(...)) serializes each order to a
    delimited line and from_csv parses it back with a schema — the
    expression pair for CSV payloads inside message streams (the
    sibling of from_json, exercised far less). The parsed key must
    equal the original on every row, and the re-parsed cents must
    aggregate identically — the oracle rebuilds the same lines with
    plain string concat/split, so the check is semantic, not
    implementation echo."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select(
            "o_orderkey",
            # CSV payloads need an explicit NULL policy: priority maps
            # to the 'UNKNOWN' sentinel (from_csv would otherwise read
            # to_csv's empty field back as NULL and shift the check);
            # cents serialize as an empty field -> NULL on re-parse
            F.coalesce("o_orderpriority", F.lit("UNKNOWN")).alias(
                "o_orderpriority"
            ),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents0"),
        )
    )
    built = o.withColumn(
        "line", F.expr("to_csv(struct(o_orderkey, o_orderpriority, cents0))")
    )
    parsed = built.select(
        "o_orderkey",
        F.expr(
            "from_csv(line, 'k BIGINT, pri STRING, cents BIGINT')"
        ).alias("r"),
    ).select("o_orderkey", "r.k", "r.pri", "r.cents")
    return (
        parsed.groupBy("pri")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("cents").alias("cents"),
            F.every(F.col("k") == F.col("o_orderkey")).alias("key_roundtrip_ok"),
        )
        .orderBy("pri")
    )


@register(
    "h_rounding_modes",
    oracle="""
WITH v AS (
  SELECT o_orderkey,
    CAST(round(o_totalprice * 10, 0) AS BIGINT) AS half_up_deci,
    CAST(round_even(o_totalprice * 10, 0) AS BIGINT) AS banker_deci
  FROM orders WHERE o_orderkey < 4000
)
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(half_up_deci) AS BIGINT) AS sum_half_up,
  CAST(sum(banker_deci) AS BIGINT) AS sum_banker,
  CAST(count(*) FILTER (WHERE half_up_deci <> banker_deci) AS BIGINT)
    AS n_mode_disagreements
FROM v
""",
    tags=("H3",),
)
def h_rounding_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rounding-mode semantics pinned: HALF_UP (Spark round ↔ oracle
    round) vs HALF_EVEN banker's rounding (Spark bround ↔ oracle
    round_even) over deci-dollar amounts — prices ending in exact .X5
    are where money pipelines silently drift by a cent depending on
    which mode a stage used. The disagreement count is part of the
    output: the two modes MUST differ on some rows (otherwise the
    fixture has no half-way cases and the pin is vacuous) — and each
    mode must agree exactly with its cross-engine counterpart."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select(
            F.round(F.col("o_totalprice") * 10, 0).cast("long").alias(
                "half_up_deci"
            ),
            F.bround(F.col("o_totalprice") * 10, 0).cast("long").alias(
                "banker_deci"
            ),
        )
    )
    return o.agg(
        F.count("*").alias("n_rows"),
        F.sum("half_up_deci").alias("sum_half_up"),
        F.sum("banker_deci").alias("sum_banker"),
        F.count(
            F.when(F.col("half_up_deci") != F.col("banker_deci"), 1)
        ).alias("n_mode_disagreements"),
    )
