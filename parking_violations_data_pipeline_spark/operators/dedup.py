"""Near-duplicate detection at training-data scale (SURVEY.md §2 J5/J6;
driver mandate BASELINE.json:6: exact, MinHash+LSH, SimHash, n-gram
Jaccard).

Design for 100 TB:
  - Exact dedup shuffles 8-byte text hashes, never documents.
  - MinHash/LSH: signatures are computed in one explode+groupBy pass
    (num_hashes aggregations over the shingle set — map-side combined);
    banding turns the O(n²) pair search into equi-joins on
    (band, band_hash) bucket keys, so the shuffle is O(n·bands) and
    only same-bucket candidates are ever paired. Hot buckets (boiler-
    plate docs) are the skew risk — AQE skew-join handles moderate
    skew; a bucket-size cap filter is provided for pathological ones.
  - SimHash: 64-bit signature from per-token hashes; near-dup =
    Hamming distance ≤ k, blocked on 4 16-bit chunks (pigeonhole: any
    pair within distance 3 shares ≥1 exact chunk) → again equi-join.
  - Exact n-gram Jaccard (the oracle-checkable ground truth): explode
    shingle sets, self-equi-join on shingle, |A∩B| / (|A|+|B|-|A∩B|).

All hashes are xxhash64 with per-permutation seeds — engine-internal
values, never compared against the oracle directly (SURVEY.md §5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from parking_violations_data_pipeline_spark.operators.text import word_shingles


def shingle_sets(
    df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, shingles:array<string> distinct) — the dedup unit."""
    return word_shingles(df, n, text_col, "shingles").select(
        id_col, F.array_distinct("shingles").alias("shingles")
    )


def minhash_signatures(
    shingled: DataFrame, num_hashes: int = 32, id_col: str = "doc_id"
) -> DataFrame:
    """MinHash signature per doc: sig[i] = min over shingles of
    xxhash64(shingle, seed=i). One explode + one groupBy; the i-th
    permutation is a different xxhash seed, all JVM-side. The
    num_hashes aggregates are one SQL expression, so one Py4J call,
    and `sig` carries `num_hashes` in its column metadata so
    lsh_candidate_pairs can check its banding without a job."""
    ex = shingled.select(id_col, F.explode("shingles").alias("sh"))
    mins = ", ".join(f"min(xxhash64(sh, {i}))" for i in range(num_hashes))
    return ex.groupBy(id_col).agg(
        F.expr(f"array({mins})").alias("sig", metadata={"num_hashes": num_hashes})
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signatures and emit candidate pairs (a < b) that share
    ≥1 band bucket. rows/band = len(sig)/bands. Bucket key is
    (band_idx, xxhash64 of the band's values joined by ",") → plain
    equi-join, shuffle O(n·bands). `max_bucket` drops degenerate
    buckets (boilerplate explosion).

    `signatures` comes from minhash_signatures: the signature length is
    read from the `num_hashes` metadata it puts on `sig`, so building
    this plan runs no job."""
    sig_len = signatures.schema["sig"].metadata["num_hashes"]
    if bands > sig_len or sig_len % bands != 0:
        # a trailing remainder would silently be dropped from banding,
        # and bands > len(sig) degenerates every row into one empty-
        # slice bucket per band -> O(n^2) candidates
        raise ValueError(
            f"lsh_candidate_pairs: num_hashes ({sig_len}) must be a "
            f"positive multiple of bands ({bands})"
        )
    rows_per = sig_len // bands
    # band b hashes sig[b*rows_per .. (b+1)*rows_per) joined by ",",
    # unrolled so no interpreted higher-order function runs per row
    band_hashes = ", ".join(
        "xxhash64(concat_ws(',', "
        + ", ".join(f"CAST(sig[{b * rows_per + r}] AS STRING)" for r in range(rows_per))
        + "))"
        for b in range(bands)
    )
    banded = signatures.select(
        id_col, F.expr(f"posexplode(array({band_hashes})) AS (band, bucket)")
    )
    if max_bucket is not None:
        counts = banded.groupBy("band", "bucket").agg(F.count("*").alias("bc"))
        banded = banded.join(
            counts.filter(F.col("bc") <= max_bucket).drop("bc"), ["band", "bucket"]
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def exact_jaccard_pairs(
    shingled: DataFrame, id_col: str = "doc_id", candidates: DataFrame | None = None
) -> DataFrame:
    """Exact Jaccard. Two plans by input:

    - candidates=None (ground-truth mode): explode shingles and
      self-equi-join on the shingle — generates every pair sharing ≥1
      shingle, work O(Σ posting-list²), the honest exact baseline.
    - candidates given (LSH verify mode): join the candidate PAIRS back
      to the shingle arrays and intersect per pair
      (size(array_intersect)) — work O(|candidates| · shingle_set),
      independent of corpus-wide shingle collision counts. This is the
      path that scales: verify cost follows the number of suspected
      duplicates, not the corpus (measured: 10× corpus with heavy
      duplication went 89s → explode-join vs ~linear with this plan).

    Output: (id_a, id_b, n_a, n_b, inter, jaccard).
    """
    if candidates is not None:
        sa = shingled.select(
            F.col(id_col).alias("id_a"), F.col("shingles").alias("__sh_a")
        )
        sb = shingled.select(
            F.col(id_col).alias("id_b"), F.col("shingles").alias("__sh_b")
        )
        return (
            candidates.join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "id_a",
                "id_b",
                F.size("__sh_a").alias("n_a"),
                F.size("__sh_b").alias("n_b"),
                F.size(F.array_intersect("__sh_a", "__sh_b")).alias("inter"),
            )
            .withColumn(
                "jaccard",
                F.round(
                    F.col("inter").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("inter")),
                    6,
                ),
            )
        )
    sizes = shingled.select(id_col, F.size("shingles").alias("n_sh"))
    ex = shingled.select(id_col, F.explode("shingles").alias("sh"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(
            F.broadcast(sizes).withColumnsRenamed({id_col: "id_a", "n_sh": "n_a"}), "id_a"
        )
        .join(F.broadcast(sizes).withColumnsRenamed({id_col: "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")),
                6,
            ),
        )
    )


def minhash_lsh_neardups(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Full pipeline: shingle → MinHash → LSH candidates → exact-Jaccard
    verify → pairs ≥ threshold. The scale path for J6: every stage is
    an equi-join/groupBy; nothing quadratic in corpus size."""
    sh = shingle_sets(df, n, id_col, text_col)
    # not persisted, so the signature and verify branches each compute
    # the shingles: a persist that outlives this call is matched by
    # Spark's cache lookup to every later call's identical plan, which
    # would then read these shingles after the input files change
    cands = lsh_candidate_pairs(minhash_signatures(sh, num_hashes, id_col), bands, id_col)
    return exact_jaccard_pairs(sh, id_col, candidates=cands).filter(
        F.col("jaccard") >= threshold
    )


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per doc: sign-sum of per-token hash bits.

    Implemented as explode → per-(doc,bit) vote aggregation via bit
    arithmetic on xxhash64(token) — each bit b contributes +1 if set
    else -1; signature bit = majority. Returns (id, simhash:long,
    chunks:array<int> of 4×16-bit blocks for Hamming blocking)."""
    tok = df.select(
        id_col,
        F.explode(F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")).alias("w"),
    ).withColumn("h", F.xxhash64("w"))
    one = F.lit(1).cast("long")
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.shiftleft(one, b)) != 0, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for b in range(bits):
        # bitwiseOR, not +: bit 63 is the long sign bit (1<<63 overflows)
        sig = sig.bitwiseOR(
            F.when(F.col(f"b{b}") > 0, F.shiftleft(one, b)).otherwise(F.lit(0).cast("long"))
        )
    out = votes.withColumn("simhash", sig).select(id_col, "simhash")
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), 16 * c).bitwiseAND(F.lit(0xFFFF)).cast("int")
            for c in range(4)
        ]
    )
    return out.withColumn("chunks", chunks)


def simhash_neardups(
    df: DataFrame, max_hamming: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """SimHash near-dup pairs with Hamming ≤ max_hamming, blocked on
    16-bit chunks (pigeonhole guarantees recall for max_hamming ≤ 3).
    Equi-join on (chunk_idx, chunk_value) — no cross join."""
    sh = simhash(df, id_col, text_col)
    blocked = sh.select(
        id_col, "simhash", F.posexplode("chunks").alias("ci", "cv")
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.withColumn("hamming", hamming).filter(F.col("hamming") <= max_hamming)
