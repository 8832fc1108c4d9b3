"""LLM-data-pipeline text operators as oracle pairs (SURVEY.md §2 J1-J6).

Spark side composes operators/text.py + operators/dedup.py; oracle
side re-expresses the same semantics in DuckDB SQL (list
comprehensions over string_split for shingles). LSH/SimHash entries
are rows-only by design — their recall is probabilistic; the exact
Jaccard query is the ground truth they are tested against in pytest.

The Q-family entries over the document corpus follow: top n-grams per
language and RAG context packing under a token budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.operators import dedup as D
from parking_violations_data_pipeline_spark.operators import text as TX
from parking_violations_data_pipeline_spark.registry import register


@register(
    "j_text_stats",
    oracle="""
SELECT lang, count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  round(avg(CAST(n_chars AS DOUBLE)), 6) AS avg_chars,
  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
  count(DISTINCT source) AS n_sources
FROM documents GROUP BY lang ORDER BY lang
""",
    tags=("J2", "D1", "D2"),
)
def j_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: per-language corpus statistics — the first pass of any
    training-data audit."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("lang")
    )


@register(
    "j_token_count",
    oracle="""
SELECT doc_id,
  len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_words,
  len(list_filter(string_split_regex(
        regexp_replace(text, '([^A-Za-z0-9\\s])', ' \\1 ', 'g'), '\\s+'),
      x -> x <> '')) AS n_subtokens
FROM documents ORDER BY doc_id
""",
    tags=("J1", "H1"),
)
def j_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: whitespace token count + BPE-ish pre-tokenizer count
    (punctuation split out as separate tokens)."""
    d = load_table(spark, sf_dir, "documents")
    return TX.token_count(d).select("doc_id", "n_words", "n_subtokens").orderBy("doc_id")


@register(
    "j_tfidf",
    oracle="""
WITH tf AS (
  -- \\s+ split (like the engine's tokenizer), not a literal-space
  -- split: tabs/newlines are token separators too
  SELECT doc_id, w AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
        FROM documents)
  WHERE w <> '' GROUP BY doc_id, w
),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.term, tf.tf, df.df,
  round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
FROM tf JOIN df USING (term) CROSS JOIN n
ORDER BY tfidf DESC, doc_id, term LIMIT 50
""",
    tags=("J3",),
)
def j_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: tf-idf, pure DataFrame (no MLlib hashing — exactly
    reproducible in SQL). Top-50 by weight with full tie-breaks."""
    d = load_table(spark, sf_dir, "documents")
    scored = TX.tf_idf(d)
    return (
        scored.select(
            "doc_id", "term", "tf", "df", F.round("tfidf", 6).alias("tfidf")
        )
        .orderBy(F.desc("tfidf"), "doc_id", "term")
        .limit(50)
    )


@register(
    "j_ngram_shingles",
    oracle="""
SELECT doc_id,
  CASE WHEN len(w) >= 3 THEN len(w) - 2 ELSE 0 END AS n_shingles,
  CASE WHEN len(w) >= 3 THEN len(list_distinct(
    list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])))
  ELSE 0 END AS n_distinct
FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
      FROM documents)
ORDER BY doc_id
""",
    tags=("J4", "H5"),
)
def j_ngram_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: word 3-gram shingling — total and distinct shingle counts
    per doc (the MinHash input-size profile)."""
    d = load_table(spark, sf_dir, "documents")
    sh = TX.word_shingles(d, 3)
    return (
        sh.select(
            "doc_id",
            F.size("shingles").alias("n_shingles"),
            F.size(F.array_distinct("shingles")).alias("n_distinct"),
        )
        .orderBy("doc_id")
    )


@register(
    "j_exact_text_dedup",
    oracle="""
SELECT min(doc_id) AS doc_id, count(*) AS n_copies
FROM (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
)
GROUP BY text ORDER BY doc_id
""",
    tags=("J5", "G3"),
)
def j_exact_text_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: exact text dedup over a re-ingested overlap (every 3rd doc
    re-delivered under a new id) — survivor = min doc_id. The Spark
    side shuffles xxhash64(text) (8 bytes), not documents; the oracle
    groups on the text itself — same survivors."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    redelivered = d.filter(F.col("doc_id") % 3 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    both = d.unionByName(redelivered)
    counts = both.groupBy(F.xxhash64("text").alias("__h")).agg(
        F.count("*").alias("n_copies")
    )
    survivors = TX.exact_dedup_text(both, "text", "doc_id").select(
        "doc_id", F.xxhash64("text").alias("__h")
    )
    return survivors.join(counts, "__h").select("doc_id", "n_copies").orderBy("doc_id")


@register(
    "j_lang_profiles",
    oracle="""
SELECT lang, term, cnt, rk FROM (
  SELECT lang, term, cnt,
    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rk
  FROM (
    SELECT lang, w AS term, count(*) AS cnt
    FROM (SELECT lang, unnest(string_split_regex(text, '\\s+')) AS w FROM documents)
    WHERE w <> '' GROUP BY lang, w
  )
) WHERE rk <= 8 ORDER BY lang, rk
""",
    tags=("J2", "E1"),
)
def j_lang_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID training pass: per-language top-8 token profile
    (Cavnar-Trenkle style, word granularity)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        TX.lang_profiles(d, top_k=8)
        .select("lang", "term", "cnt", "rk")
        .orderBy("lang", "rk")
    )


@register(
    "j_langid_classify",
    oracle="""
WITH prof AS (
  SELECT lang, term FROM (
    SELECT lang, term, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rk
    FROM (SELECT lang, w AS term, count(*) AS cnt
          FROM (SELECT lang, unnest(string_split_regex(text, '\\s+')) AS w FROM documents)
          WHERE w <> '' GROUP BY lang, w)
  ) WHERE rk <= 8
),
toks AS (
  SELECT doc_id, lang AS true_lang, w FROM
    (SELECT doc_id, lang, unnest(string_split_regex(text, '\\s+')) AS w FROM documents)
  WHERE w <> ''
),
votes AS (
  SELECT t.doc_id, t.true_lang, p.lang AS cand, count(*) AS score
  FROM toks t JOIN prof p ON t.w = p.term
  GROUP BY t.doc_id, t.true_lang, p.lang
),
best AS (
  SELECT doc_id, true_lang, cand AS pred_lang,
    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
  FROM votes
)
SELECT true_lang, pred_lang, count(*) AS n
FROM best WHERE rn = 1 GROUP BY true_lang, pred_lang
ORDER BY true_lang, pred_lang
""",
    tags=("J2", "C1", "E1"),
)
def j_langid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID inference: score docs by overlap with each language
    profile, argmax with deterministic tie-break → confusion matrix.
    (The fixture vocab is shared across langs, so accuracy is what the
    profile overlap honestly yields — the pipeline shape is the point.)
    """
    d = load_table(spark, sf_dir, "documents")
    prof = TX.lang_profiles(d, top_k=8).select(F.col("lang").alias("cand"), "term")
    toks = (
        TX.tokenize(d)
        .select("doc_id", F.col("lang").alias("true_lang"), F.explode("words").alias("w"))
    )
    votes = (
        toks.join(F.broadcast(prof), toks.w == prof.term)
        .groupBy("doc_id", "true_lang", "cand")
        .agg(F.count("*").alias("score"))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), "cand")
    best = votes.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.groupBy("true_lang", F.col("cand").alias("pred_lang"))
        .agg(F.count("*").alias("n"))
        .orderBy("true_lang", "pred_lang")
    )


@register(
    "j_quality_score",
    oracle="""
SELECT doc_id,
  length(text) AS n_chars_m,
  len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_words,
  round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
        / CAST(greatest(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')), 1) AS DOUBLE),
        6) AS mean_word_len,
  round(len(list_filter(string_split_regex(text, '\\s+'),
            x -> x IN ('the','a','and','of','to','in')))
        / CAST(greatest(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')), 1) AS DOUBLE),
        6) AS stopword_ratio,
  round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
        / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS alpha_ratio
FROM documents ORDER BY doc_id
""",
    tags=("J2", "H1"),
)
def j_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training quality heuristics per doc — length, word stats,
    stopword/alpha ratios — one codegen'd projection."""
    d = load_table(spark, sf_dir, "documents")
    return (
        TX.quality_score(d)
        .select(
            "doc_id", "n_chars_m", "n_words", "mean_word_len", "stopword_ratio", "alpha_ratio"
        )
        .orderBy("doc_id")
    )


@register(
    "j_jaccard_neardup",
    oracle="""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
        FROM documents) WHERE len(w) >= 3
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.id_a, i.id_b, i.inter,
  round(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 6) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a JOIN sizes sb ON sb.doc_id = i.id_b
ORDER BY jaccard DESC, id_a, id_b LIMIT 20
""",
    tags=("J6", "J4"),
)
def j_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 ground truth: exact n-gram Jaccard via shingle self-equi-join
    (no cross join — pairs sharing zero shingles are never generated).
    Top-20 most similar pairs, fully tie-broken."""
    d = load_table(spark, sf_dir, "documents")
    sh = D.shingle_sets(d, 3)
    pairs = D.exact_jaccard_pairs(sh)
    return (
        pairs.select("id_a", "id_b", "inter", F.col("jaccard"))
        .orderBy(F.desc("jaccard"), "id_a", "id_b")
        .limit(20)
    )


@register(
    "j_minhash_lsh_neardup",
    oracle="""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
        FROM documents) WHERE len(w) >= 3
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.id_a, i.id_b,
  round(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 6) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a JOIN sizes sb ON sb.doc_id = i.id_b
WHERE round(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 6) >= 0.25
ORDER BY id_a, id_b
""",
    tags=("J6",),
)
def j_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 scale path: MinHash+LSH candidates → exact-Jaccard verify →
    pairs ≥ 0.25. The oracle is the full exact-Jaccard pair set: with
    16-band/2-row banding at the fixture's near-dup similarities
    (all ≥ 0.8) the miss probability per pair is < 1e-3 and the seeded
    pipeline is deterministic — measured recall is 100% at both gate
    scales, so LSH output ≡ exact output and a full-value oracle holds.
    Precision is 1.0 by construction (candidates are exact-verified)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        D.minhash_lsh_neardups(d, n=3, num_hashes=32, bands=8, threshold=0.25)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


@register(
    "j_simhash_neardup",
    oracle="""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
        FROM documents) WHERE len(w) >= 3
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n_true, TRUE AS recall_ok
FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a JOIN sizes sb ON sb.doc_id = i.id_b
WHERE round(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 6) >= 0.8
""",
    tags=("J6",),
)
def j_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 alternative: 64-bit SimHash, Hamming ≤ 12, chunk-blocked
    (pigeonhole blocking on 16-bit chunks). SimHash bit flips are
    engine-specific, so the invariant is computed in-plan: of the
    exact-Jaccard ≥ 0.8 ground-truth pairs (oracle-computable), at
    least 80% must appear among the SimHash Hamming-≤12 pairs
    (measured: 92-96% at gate scales, deterministic)."""
    d = load_table(spark, sf_dir, "documents")
    sim = D.simhash_neardups(d, max_hamming=12).select("id_a", "id_b", F.lit(1).alias("hit"))
    sh = D.shingle_sets(d, 3)
    true_pairs = (
        D.exact_jaccard_pairs(sh)
        .filter(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b")
    )
    return true_pairs.join(sim, ["id_a", "id_b"], "left").agg(
        F.count("*").alias("n_true"),
        (F.count("hit") >= 0.8 * F.count("*")).alias("recall_ok"),
    )


@register(
    "j_fingerprint",
    oracle="""
WITH n AS (
  -- coalesce: DuckDB's array_to_string([]) is NULL, but an empty
  -- token stream normalizes to '' (count(DISTINCT) must include it)
  SELECT coalesce(array_to_string(
    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''), ' '),
    CASE WHEN text IS NULL THEN NULL ELSE '' END) AS norm
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
  CAST(count(DISTINCT norm) AS BIGINT) AS n_distinct_norm,
  TRUE AS fp_injective, TRUE AS fp_consistent
FROM n
""",
    tags=("J5", "H4"),
)
def j_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: 64-bit digest of the lowercased,
    whitespace-normalized token stream. Hash values are
    engine-specific, so the in-plan invariants are: fp_injective —
    distinct fingerprints == distinct normalized texts (64-bit
    collision odds ~1e-13 at gate scale); fp_consistent — every
    normalized text maps to exactly one fingerprint. The oracle
    reproduces the exact doc/norm counts + TRUE."""
    d = load_table(spark, sf_dir, "documents")
    # NULL text normalizes to NULL (concat_ws would silently give ''):
    # SQL count(DISTINCT) must not see a phantom empty-string norm, and
    # the fingerprint of nothing is NULL, not xxhash64's seed
    norm = F.when(
        F.col("text").isNotNull(),
        F.concat_ws(
            " ", F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != "")
        ),
    )
    fp = (
        TX.fingerprint(d)
        .withColumn("norm", norm)
        .withColumn("fp", F.when(F.col("text").isNotNull(), F.col("fp")))
    )
    return fp.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("norm").alias("n_distinct_norm"),
        (F.countDistinct("fp") == F.countDistinct("norm")).alias("fp_injective"),
        (
            # count only real (non-NULL-norm) pairs: struct(NULL,NULL)
            # is itself non-NULL and would phantom-count
            F.countDistinct(
                F.when(F.col("norm").isNotNull(), F.struct("norm", "fp"))
            )
            == F.countDistinct("norm")
        ).alias("fp_consistent"),
    )


@register(
    "j_char_shingles",
    oracle="""
SELECT doc_id,
  CASE WHEN length(text) >= 5 THEN length(text) - 4 ELSE 0 END AS n_grams,
  CASE WHEN length(text) >= 5 THEN len(list_distinct(
    list_transform(range(1, length(text) - 3), i -> substring(text, CAST(i AS INT), 5))))
  ELSE 0 END AS n_distinct
FROM documents ORDER BY doc_id
""",
    tags=("J4", "H1", "H5"),
)
def j_char_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: character 5-gram shingling (the classic MinHash input for
    text where word boundaries are unreliable) — total and distinct
    gram counts per doc."""
    d = load_table(spark, sf_dir, "documents")
    sh = TX.char_shingles(d, 5)
    return (
        sh.select(
            "doc_id",
            F.size("shingles").alias("n_grams"),
            F.size(F.array_distinct("shingles")).alias("n_distinct"),
        )
        .orderBy("doc_id")
    )


@register(
    "j_length_percentile_filter",
    oracle="""
WITH b AS (SELECT quantile_cont(n_chars, 0.05) AS lo, quantile_cont(n_chars, 0.95) AS hi
           FROM documents)
SELECT d.lang, count(*) AS n, min(d.n_chars) AS mn, max(d.n_chars) AS mx
FROM documents d CROSS JOIN b
WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi
GROUP BY d.lang ORDER BY d.lang
""",
    tags=("J2", "D5", "B3"),
)
def j_length_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data quality gate: keep documents inside the
    [p5, p95] length band — the percentile bounds are computed on the
    corpus itself and broadcast into the filter."""
    d = load_table(spark, sf_dir, "documents")
    bounds = d.agg(
        F.percentile("n_chars", F.lit(0.05)).alias("lo"),
        F.percentile("n_chars", F.lit(0.95)).alias("hi"),
    )
    return (
        d.crossJoin(F.broadcast(bounds))
        .filter((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.min("n_chars").alias("mn"),
            F.max("n_chars").alias("mx"),
        )
        .orderBy("lang")
    )


@register(
    "j_vocab_topk",
    oracle="""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS tok
  FROM documents
)
SELECT tok, count(*) AS n
FROM toks GROUP BY tok
ORDER BY n DESC, tok LIMIT 20
""",
    tags=("J1", "F3", "D1"),
)
def j_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction seed: corpus-wide top-20 tokens with the
    full deterministic tie-break (count DESC, token ASC). Partial
    aggregation combines counts map-side; the top-k is
    TakeOrderedAndProject — no global sort of the vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(F.split(F.trim("text"), "\\s+"), lambda x: x != "")
        ).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(20)
    )


@register(
    "j_oov_rate",
    oracle="""
WITH toks AS (
  SELECT source,
         unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS tok
  FROM documents
), vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS n FROM toks GROUP BY tok
    ORDER BY n DESC, tok LIMIT 25
  )
)
SELECT source,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
FROM toks LEFT JOIN vocab v USING (tok)
GROUP BY source ORDER BY source
""",
    tags=("J1", "J2", "C3", "C2"),
)
def j_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage check: build a top-25 vocab from the corpus
    (deterministic tie-break), then per source count tokens falling
    outside it — the OOV numerator/denominator a tokenizer-training
    run reports per domain. The vocab is top-k-bounded so it
    broadcasts; the corpus token stream is left-joined against it
    without shuffling the corpus side."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(
            F.filter(F.split(F.trim("text"), "\\s+"), lambda x: x != "")
        ).alias("tok"),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(25)
        .select("tok", F.lit(True).alias("__in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.col("__in_vocab").isNull().cast("long")).alias("n_oov"),
        )
        .orderBy("source")
    )


@register(
    "q_top_ngrams_per_group",
    oracle="""
WITH w AS (
  SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
b AS (
  SELECT lang,
         unnest([ws[i] || ' ' || ws[i + 1]
                 FOR i IN generate_series(1, len(ws) - 1)]) AS bigram
  FROM w WHERE len(ws) >= 2
),
c AS (SELECT lang, bigram, count(*) AS n FROM b GROUP BY 1, 2),
r AS (
  SELECT lang, bigram, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rk
  FROM c
)
SELECT lang, bigram, CAST(n AS BIGINT) AS n, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= 3 ORDER BY lang, rk
""",
    tags=("J4", "E4", "F3"),
)
def q_top_ngrams_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 bigrams per language: n-gram formation (J4) composed with
    per-group top-k (E4) — the vocabulary-inspection op behind
    corpus-mix dashboards.

    Bigrams form inside codegen (transform over sequence — no UDF,
    no self-join); count shuffles on (lang, bigram); the per-lang
    top-3 window shuffles only the counted pairs (vocab-sized, not
    corpus-sized). row_number with (n DESC, bigram) is a total order.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", " "), lambda x: x != "")
    b = (
        d.select("lang", ws.alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(
            "lang",
            # zip of shifted slices, NOT transform-over-index with
            # element_at(ws, i): Catalyst inlines the ws alias into the
            # lambda, re-splitting the document per element — O(words²)
            # (operators/text.py::word_shingles has the full story)
            F.explode(
                F.expr(
                    "transform(arrays_zip(slice(ws, 1, size(ws) - 1),"
                    " slice(ws, 2, size(ws) - 1)),"
                    " s -> concat(s['0'], ' ', s['1']))"
                )
            ).alias("bigram"),
        )
    )
    c = b.groupBy("lang", "bigram").agg(F.count("*").alias("n"))
    w = W.partitionBy("lang").orderBy(F.desc("n"), "bigram")
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("lang", "bigram", "n", F.col("rk").cast("long").alias("rk"))
        .orderBy("lang", "rk")
    )


@register(
    "q_rag_context_pack",
    oracle="""
WITH scored AS (
  SELECT doc_id, len(string_split(text, ' ')) AS toks,
    (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
     + ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))) AS rel
  FROM documents WHERE length(text) > 0
),
ranked AS (
  SELECT doc_id, toks, rel,
    rel * 1000 // toks AS density_milli,
    row_number() OVER (ORDER BY rel * 1000 // toks DESC, doc_id) AS rn
  FROM scored WHERE toks > 0
),
packed AS (
  SELECT doc_id, toks, rel, density_milli,
    sum(toks) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks
  FROM ranked
)
SELECT
  CAST(count(*) AS BIGINT) AS n_docs_packed,
  CAST(sum(toks) AS BIGINT) AS tokens_used,
  CAST(sum(rel) AS BIGINT) AS total_relevance,
  CAST(min(density_milli) AS BIGINT) AS worst_density_milli
FROM packed WHERE cum_toks <= 1000
""",
    tags=("J13", "F3", "E3"),
)
def q_rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context assembly under a token budget: candidate documents
    (relevance stands in as a deterministic md5-derived score — the
    retrieval score arrives from upstream in production) pack
    greedily by relevance-per-token DENSITY until the 1000-token
    budget closes — the fractional-knapsack heuristic every context
    builder runs between retrieval and the prompt. Fully relational:
    one density sort + one running token sum + a prefix filter — no
    driver loop; density on an integer milli grid with doc_id
    tie-break.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    h = F.md5(F.col("doc_id").cast("string"))
    scored = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("toks"),
        (F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1)))
        .cast("long")
        .alias("rel"),
    ).filter(F.col("toks") > 0)
    ranked = scored.select(
        "doc_id",
        "toks",
        "rel",
        F.expr("rel * 1000 div toks").alias("density_milli"),
        F.row_number()
        .over(W.orderBy(F.expr("rel * 1000 div toks").desc(), "doc_id"))
        .alias("rn"),
    )
    packed = ranked.select(
        "toks",
        "rel",
        "density_milli",
        F.sum("toks")
        .over(W.orderBy("rn").rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum_toks"),
    )
    return packed.filter(F.col("cum_toks") <= 1000).agg(
        F.count("*").alias("n_docs_packed"),
        F.sum("toks").alias("tokens_used"),
        F.sum("rel").alias("total_relevance"),
        F.min("density_milli").alias("worst_density_milli"),
    )
