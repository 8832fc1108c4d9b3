"""Round-4 widening batch 74: source-format surface — the binaryFile
source (the ingestion path for multimodal blobs), AES column
encryption round-trip, and recursive/glob file-lookup read options.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.catalog import scratch
from parking_violations_data_pipeline_spark.registry import register


@register(
    "a_binary_files",
    oracle="""
SELECT doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  md5(text) AS content_md5
FROM (
  -- one blob per id (the filename IS the identity): duplicate ids
  -- collapse to the min-text survivor; NULL text has no bytes to write
  SELECT doc_id, min(text) AS text
  FROM documents WHERE doc_id < 5 AND text IS NOT NULL
  GROUP BY doc_id
) ORDER BY doc_id
""",
    tags=("A1", "A5"),
)
def a_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source — how image/audio/video blobs enter the
    engine (one row per file: path, length, content bytes). Five
    documents are materialized as standalone .txt blobs, re-read
    through ``format("binaryFile")``, and proven byte-identical to
    the table they came from via length + md5 over the raw bytes
    (UTF-8 both sides). Scale note: binaryFile parallelizes per file
    and never splits one blob across tasks — the right unit for
    opaque media; metadata columns (length) come from the file
    status, free of content I/O."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 5) & F.col("text").isNotNull())
        # one blob per id: the filename is the identity, so duplicate
        # ids collapse deterministically to the min-text survivor
        .groupBy("doc_id")
        .agg(F.min("text").alias("text"))
        .collect()  # bounded: at most 5 rows, written as local blobs
    )
    path = scratch("binary_files")
    os.makedirs(path, exist_ok=True)
    for row in docs:
        with open(os.path.join(path, f"doc_{row['doc_id']:05d}.txt"), "wb") as f:
            f.write(row["text"].encode("utf-8"))
    bf = spark.read.format("binaryFile").load(path)
    return (
        bf.select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )
        .orderBy("doc_id")
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
    "a_path_glob_recursive",
    oracle="""
SELECT NULLIF(lang, '') AS lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY NULLIF(lang, '') ORDER BY lang
""",
    tags=("A1", "A5"),
)
def a_path_glob_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-option surface: ``recursiveFileLookup`` + ``pathGlobFilter``
    — scanning a nested lake layout (lang=*/part-*.parquet plus a
    decoy .json sidecar per directory) without partition discovery.
    The glob keeps only parquet parts; recursion flattens the nesting;
    the decoys prove the filter actually excludes. Counts and char
    sums must reproduce the source table exactly. Scale note: file
    listing is driver-parallelized (InMemoryFileIndex) and the glob
    prunes before any footer read."""
    path = scratch("glob_recursive")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d.write.mode("overwrite").partitionBy("lang").parquet(path)
    # decoy sidecars that the glob must skip
    for sub in os.listdir(path):
        full = os.path.join(path, sub)
        if os.path.isdir(full):
            with open(os.path.join(full, "manifest.json"), "w") as f:
                f.write('{"decoy": true}')
    df = (
        spark.read.schema(d.drop("lang").schema)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(path)
    )
    # recursiveFileLookup disables partition inference: lang comes back
    # only if it was written into the files — it is not (partitionBy
    # drops it), so recover it from the directory name baked into the
    # file path via the metadata column. The hive layout conflates NULL
    # and '' into __HIVE_DEFAULT_PARTITION__ — both read back as NULL
    # (the oracle models the same with NULLIF(lang, '')); every other
    # value is URL-encoded in the dir name, so decode it.
    raw_part = F.regexp_extract(F.input_file_name(), r"lang=([^/]+)/", 1)
    return (
        df.withColumn(
            "lang",
            F.when(
                raw_part == "__HIVE_DEFAULT_PARTITION__",
                F.lit(None).cast("string"),
            ).otherwise(F.url_decode(raw_part)),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang")
    )
