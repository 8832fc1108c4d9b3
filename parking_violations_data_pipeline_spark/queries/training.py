"""T-family entries: training-data pipeline operators. Deduplication and
decontamination, language and temperature mixing, tokenizer statistics,
privacy checks, sampling and the formatting of SFT and preference
data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table, maybe_broadcast
from parking_violations_data_pipeline_spark.functions.localrel import local_df
from parking_violations_data_pipeline_spark.operators import dedup as D
from parking_violations_data_pipeline_spark.operators.text import word_shingles
from parking_violations_data_pipeline_spark.registry import register


@register(
    "t_dup_ngram_fraction",
    oracle="""
WITH w AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
g AS (
  SELECT DISTINCT doc_id, source,
         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                 || ' ' || ws[i+4]
                 FOR i IN generate_series(1, len(ws) - 4)]) AS gram
  FROM w WHERE len(ws) >= 5
),
df AS (SELECT gram, count(*) AS docfreq FROM g GROUP BY gram),
per_doc AS (
  SELECT g.doc_id, g.source,
         count(*) AS n_grams,
         count_if(df.docfreq >= 5) AS n_dup
  FROM g JOIN df USING (gram) GROUP BY 1, 2
)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  round(avg(CAST(n_dup AS DOUBLE) / n_grams), 4) AS avg_dup_frac
FROM per_doc GROUP BY source ORDER BY source
""",
    tags=("J4", "J5", "D1"),
)
def t_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-ngram fraction (Dolma/Gopher-style
    repetition signal at corpus grain): share of each doc's distinct
    word 5-grams that occur in ≥5 distinct documents, averaged per
    source.

    Plan: distinct (doc, gram) pairs → gram doc-frequency (shuffle on
    gram) → broadcast-free join back on gram → per-doc counters →
    per-source average. At 100 TB you'd shuffle xxhash64(gram) 8-byte
    keys instead of gram strings (same counts modulo 2^-64 collisions)
    and salt the head grams; here grams stay raw so the oracle matches
    exactly — the swap is one expression, noted for the scale path.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", " "), lambda x: x != "")
    grams = (
        d.select("doc_id", "source", ws.alias("ws"))
        .filter(F.size("ws") >= 5)
        .select(
            "doc_id",
            "source",
            # zip of shifted slices — see word_shingles: element_at(ws,
            # i+k) inside the lambda re-splits the document per element
            F.explode(
                F.expr(
                    "array_distinct(transform(arrays_zip("
                    " slice(ws, 1, size(ws) - 4), slice(ws, 2, size(ws) - 4),"
                    " slice(ws, 3, size(ws) - 4), slice(ws, 4, size(ws) - 4),"
                    " slice(ws, 5, size(ws) - 4)),"
                    " s -> concat_ws(' ', s['0'], s['1'], s['2'], s['3'], s['4'])))"
                )
            ).alias("gram"),
        )
    )
    docfreq = grams.groupBy("gram").agg(F.count("*").alias("docfreq"))
    per_doc = (
        grams.join(docfreq, "gram")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_grams"),
            F.count_if(F.col("docfreq") >= 5).alias("n_dup"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.avg(F.col("n_dup").cast("double") / F.col("n_grams")), 4
            ).alias("avg_dup_frac"),
        )
        .orderBy("source")
    )


@register(
    "t_chunk_dedup",
    oracle="""
WITH w AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
ch AS (
  SELECT doc_id, source,
         unnest(generate_series(0, CAST(floor((len(ws) - 1) / 10) AS BIGINT))) AS idx,
         unnest([array_to_string(list_slice(ws, i * 10 + 1, i * 10 + 10), ' ')
                 FOR i IN generate_series(0, CAST(floor((len(ws) - 1) / 10) AS BIGINT))]) AS chunk
  FROM w WHERE len(ws) > 0
),
r AS (
  SELECT source, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rk
  FROM ch
)
SELECT source,
  CAST(count(*) AS BIGINT)            AS n_chunks,
  CAST(count_if(rk = 1) AS BIGINT)    AS n_survived,
  round(CAST(count_if(rk = 1) AS DOUBLE) / count(*), 4) AS survive_frac
FROM r GROUP BY source ORDER BY source
""",
    tags=("J5", "G3", "E1"),
)
def t_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup at 10-word-chunk granularity
    (C4/CCNet-style line dedup, word-chunked because the fixture texts
    carry no newlines): corpus-wide keep-first on the chunk text,
    survival fraction per source.

    Keep-first is one row_number window partitioned BY CHUNK — the
    shuffle key is the chunk text itself (at 100 TB: xxhash64(chunk)),
    so identical chunks collide on one reducer and (doc_id, idx) gives
    the deterministic survivor. No join, no second pass.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", " "), lambda x: x != "")
    ch = (
        d.select("doc_id", "source", ws.alias("ws"))
        .filter(F.size("ws") > 0)
        .select(
            "doc_id",
            "source",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, CAST(floor((size(ws) - 1) / 10) AS INT)),"
                    " i -> array_join(slice(ws, i * 10 + 1, 10), ' '))"
                )
            ).alias("idx", "chunk"),
        )
    )
    w = W.partitionBy("chunk").orderBy("doc_id", "idx")
    r = ch.withColumn("rk", F.row_number().over(w))
    return (
        r.groupBy("source")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count_if(F.col("rk") == 1).alias("n_survived"),
            F.round(
                F.count_if(F.col("rk") == 1).cast("double") / F.count("*"), 4
            ).alias("survive_frac"),
        )
        .orderBy("source")
    )


@register(
    "t_lang_balance_resample",
    oracle="""
WITH ranked AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n_lang
  FROM documents
),
quota AS (SELECT CAST(ceil(avg(n) ) AS BIGINT) AS cap
          FROM (SELECT lang, count(*) AS n FROM documents GROUP BY lang))
SELECT lang,
  CAST(max(n_lang) AS BIGINT)                    AS n_orig,
  CAST(count_if(rn <= cap) AS BIGINT)            AS n_kept,
  round(CAST(count_if(rn <= cap) AS DOUBLE) / max(n_lang), 4) AS kept_frac,
  CAST(sum(n_chars) FILTER (WHERE rn <= cap) AS BIGINT) AS chars_kept
FROM ranked, quota GROUP BY lang, cap ORDER BY lang
""",
    tags=("J2", "F2", "E1"),
)
def t_lang_balance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus language rebalancing: cap every language at the
    mean-docs-per-language quota, keeping the doc_id-ranked prefix —
    the deterministic form of the data-mix downsampling step in
    multilingual corpus prep (over-represented languages shrink,
    under-represented pass through).

    One window per lang for the rank, a 1-row quota broadcast. At
    100 TB the rank/sort is the wrong tool — you'd switch to
    hash-threshold sampling (keep if xxhash64(doc_id) mod 1e6 <
    1e6*cap/n_lang — one pass, no sort) and accept ±binomial error;
    the rank form here is what makes the oracle exact.
    """
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy("doc_id")
    cap = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .agg(F.ceil(F.avg("n")).alias("cap"))
    )
    ranked = (
        d.select("lang", "n_chars", "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_lang", F.count("*").over(W.partitionBy("lang")))
        .crossJoin(F.broadcast(cap))
    )
    kept = F.col("rn") <= F.col("cap")
    return (
        ranked.groupBy("lang", "cap")
        .agg(
            F.max("n_lang").alias("n_orig"),
            F.count_if(kept).alias("n_kept"),
            F.round(
                F.count_if(kept).cast("double") / F.max("n_lang"), 4
            ).alias("kept_frac"),
            F.sum(F.when(kept, F.col("n_chars"))).alias("chars_kept"),
        )
        .select("lang", "n_orig", "n_kept", "kept_frac", "chars_kept")
        .orderBy("lang")
    )


@register(
    "t_dedup_rate_by_threshold",
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
),
pairs AS (
  SELECT CAST(floor(round(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 6) * 10) AS BIGINT) AS bucket
  FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a JOIN sizes sb ON sb.doc_id = i.id_b
),
hist AS (SELECT bucket, count(*) AS n_pairs FROM pairs GROUP BY bucket)
SELECT round(bucket / 10.0, 1) AS threshold,
  CAST(n_pairs AS BIGINT) AS n_pairs,
  CAST(sum(n_pairs) OVER (ORDER BY bucket DESC) AS BIGINT) AS n_pairs_ge
FROM hist ORDER BY threshold
""",
    tags=("J6", "E3", "D1"),
)
def t_dedup_rate_by_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aggressiveness curve: candidate-pair counts per 0.1
    Jaccard bucket with the cumulative pairs-at-or-above running sum —
    the table you read before choosing a near-dup threshold (how much
    of the corpus disappears at 0.8 vs 0.6?).

    Reuses the posting-list exact-Jaccard join (never cartesian), then
    histograms into ≤10 buckets — the curve is O(1) rows no matter the
    corpus size; the running sum is a 10-row window.
    """
    d = load_table(spark, sf_dir, "documents")
    sh = D.shingle_sets(d, 3)
    pairs = D.exact_jaccard_pairs(sh)
    hist = (
        pairs.select(
            F.floor(F.round(F.col("jaccard"), 6) * 10).cast("long").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_pairs"))
    )
    w = W.orderBy(F.desc("bucket")).rowsBetween(W.unboundedPreceding, 0)
    return (
        hist.select(
            F.round(F.col("bucket") / 10.0, 1).alias("threshold"),
            "n_pairs",
            F.sum("n_pairs").over(w).alias("n_pairs_ge"),
        )
        .orderBy("threshold")
    )


@register(
    "t_perplexity_buckets",
    oracle="""
WITH tok AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
  FROM documents
),
vocab AS (SELECT lang, w, count(*) AS cnt FROM tok GROUP BY lang, w),
lang_total AS (SELECT lang, sum(cnt) AS n FROM vocab GROUP BY lang),
doc_lp AS (
  SELECT t.doc_id, t.lang,
         round((sum(ln(v.cnt)) - count(*) * ln(max(lt.n))) / count(*), 4) AS lp
  FROM tok t
  JOIN vocab v ON v.lang = t.lang AND v.w = t.w
  JOIN lang_total lt ON lt.lang = t.lang
  GROUP BY t.doc_id, t.lang
),
bucketed AS (
  SELECT lang, lp,
         ntile(3) OVER (PARTITION BY lang ORDER BY lp DESC, doc_id) AS bucket
  FROM doc_lp
)
SELECT lang, bucket,
  CAST(count(*) AS BIGINT) AS n_docs,
  round(avg(lp), 4)        AS avg_lp
FROM bucketed GROUP BY lang, bucket ORDER BY lang, bucket
""",
    tags=("J2", "J3", "E1"),
)
def t_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2019): score
    each document with a per-language unigram LM, then split every
    language into head / middle / tail terciles by model score —
    the standard pre-filter that keeps the fluent third of a web
    crawl and demotes the rest.

    The LM "training" is one (lang, token) aggregation; scoring joins
    tokens back to that vocab — both shuffles are at token grain and
    combine map-side. ntile runs per language over doc-grain rows.
    Scores are rounded to 4 decimals BEFORE the ntile ordering so the
    bucket boundary cannot flap on ln() ulps between engines; doc_id
    breaks remaining ties totally.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(F.split("text", " "), lambda x: x != F.lit(""))
        ).alias("w"),
    )
    vocab = tok.groupBy("lang", "w").agg(F.count("*").alias("cnt"))
    lang_total = vocab.groupBy("lang").agg(F.sum("cnt").alias("n"))
    doc_lp = (
        tok.join(vocab, ["lang", "w"])
        .join(F.broadcast(lang_total), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                (F.sum(F.log("cnt")) - F.count("*") * F.log(F.max("n")))
                / F.count("*"),
                4,
            ).alias("lp")
        )
    )
    bucketed = doc_lp.select(
        "lang",
        "lp",
        F.ntile(3)
        .over(W.partitionBy("lang").orderBy(F.desc("lp"), "doc_id"))
        .alias("bucket"),
    )
    return (
        bucketed.groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("lp"), 4).alias("avg_lp"),
        )
        .orderBy("lang", "bucket")
    )


@register(
    "t_temperature_mix",
    oracle="""
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
),
tot AS (
  SELECT source, n_docs,
         sum(n_docs) OVER () AS total,
         sum(pow(n_docs, 0.7)) OVER () AS z
  FROM per
)
SELECT source, n_docs,
  round(n_docs * 1.0 / total, 6)            AS p_raw,
  round(pow(n_docs, 0.7) / z, 6)            AS p_temp,
  round((pow(n_docs, 0.7) / z) / (n_docs * 1.0 / total), 4) AS upsample
FROM tot ORDER BY source
""",
    tags=("J16", "J2", "D1"),
)
def t_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (the mT5/XLM-R recipe,
    alpha = 0.7): turn raw per-source document counts into the
    sampling distribution p_s ∝ n_s^alpha that upsamples scarce
    sources and damps dominant ones — the knob every multi-source
    pretraining mix is tuned with.

    One shuffle to the source grain; the normalizer is a window over
    the handful of source rows. `upsample` > 1 marks sources the
    sampler must repeat (scarce), < 1 marks ones it thins. Downstream,
    t_lang_balance_resample applies this kind of quota physically;
    this entry computes the canonical mixture itself.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    wall = W.partitionBy()
    tot = per.select(
        "source",
        "n_docs",
        F.sum("n_docs").over(wall).alias("total"),
        F.sum(F.pow("n_docs", 0.7)).over(wall).alias("z"),
    )
    p_raw = F.col("n_docs") / F.col("total")
    p_temp = F.pow("n_docs", 0.7) / F.col("z")
    return tot.select(
        "source",
        "n_docs",
        F.round(p_raw, 6).alias("p_raw"),
        F.round(p_temp, 6).alias("p_temp"),
        F.round(p_temp / p_raw, 4).alias("upsample"),
    ).orderBy("source")


@register(
    "t_ngram_novelty",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
  FROM toks, (SELECT unnest(generate_series(1, 400)) AS i)
  WHERE i + 2 <= len(ws)
),
first_seen AS (
  SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
)
SELECT t.doc_id,
  CAST(count(*) AS BIGINT) AS n_grams,
  round(avg(CASE WHEN f.first_doc = t.doc_id THEN 1.0 ELSE 0.0 END), 6)
    AS novelty
FROM grams t JOIN first_seen f ON f.g = t.g
GROUP BY t.doc_id ORDER BY t.doc_id
""",
    tags=("J4", "J6", "D1"),
)
def t_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of each document's
    distinct 3-grams NOT present in any earlier document (doc_id order
    — in production, crawl order). The online view of duplication:
    t_dup_ngram_fraction asks "how much of the corpus is duplicated",
    this asks "by the time doc D arrived, how much of it was new" —
    the curve data pipelines watch to decide when a source is mined
    out.

    One distinct-(doc, gram) explode, one min(doc_id) posting
    aggregate, one join-back — the same shuffle shape as the dedup
    family, nothing pairwise. A gram's first_doc equals the doc iff
    the doc introduced it; avg over the doc's distinct grams is the
    novelty share. The explicit index spine in the oracle (1..400)
    mirrors Spark's transform over sequence() and caps both engines at
    the same max token count, so gram sets match exactly.
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    # zip of shifted slices, NOT transform-over-index with
    # element_at(ws, i): the lambda-captured split re-evaluates per
    # element (see operators/text.py::word_shingles); the 400-token
    # cap rides on the slice length
    m = F.least(F.size(ws) - 2, F.lit(400))
    grams = (
        docs.where(F.size(ws) >= 3)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.arrays_zip(
                        F.slice(ws, 1, m), F.slice(ws, 2, m), F.slice(ws, 3, m)
                    ),
                    lambda s: F.concat_ws(" ", s["0"], s["1"], s["2"]),
                )
            ).alias("g"),
        )
        .distinct()
    )
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.round(
                F.avg(
                    F.when(F.col("first_doc") == F.col("doc_id"), 1.0).otherwise(0.0)
                ),
                6,
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@register(
    "t_bpe_pair_counts",
    oracle="""
WITH d AS (
  SELECT lower(text) AS t FROM documents WHERE length(text) >= 2
),
seq AS (
  SELECT t, unnest(generate_series(1, length(t) - 1)) AS i FROM d
),
pairs AS (
  SELECT substr(t, CAST(i AS INT), 2) AS pair FROM seq
),
counted AS (
  SELECT pair, CAST(count(*) AS BIGINT) AS cnt
  FROM pairs WHERE regexp_matches(pair, '^[a-z]{2}$')
  GROUP BY pair
)
SELECT pair, cnt FROM counted
ORDER BY cnt DESC, pair LIMIT 20
""",
    tags=("J4", "H1", "F3"),
)
def t_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE-training inner loop at corpus scale: count adjacent
    symbol pairs over every document, take the most frequent — the
    pair a byte-pair-encoding tokenizer would merge next. (Real BPE
    iterates merge→recount; one exact counting pass is the unit of
    work, and each subsequent iteration is this same query over the
    re-segmented corpus.)

    Pure map-side pair generation (transform over an index sequence +
    explode — a Generate, no shuffle), then one partial+final count
    whose key space is bounded by the symbol alphabet squared, not the
    corpus: the shuffle carries at most |Σ|² rows per partition no
    matter how many TB of text went in. Space-adjacent pairs are
    dropped (word-internal merges only, the GPT-2 style pre-tokenizer
    boundary).
    """
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= 2)
        .select(F.lower(F.col("text")).alias("t"))
    )
    pairs = d.select(
        F.explode(
            F.expr("transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.filter(F.col("pair").rlike("^[a-z]{2}$"))
        .groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair"))
        .limit(20)
    )


@register(
    "t_k_anonymity",
    oracle="""
WITH qid AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nat,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
  FROM customer
),
groups AS (
  SELECT seg, nat, bal_band, CAST(count(*) AS BIGINT) AS k
  FROM qid GROUP BY seg, nat, bal_band
)
SELECT
  CAST(count(*) AS BIGINT)                                    AS n_groups,
  CAST(sum(k) AS BIGINT)                                      AS n_rows,
  CAST(min(k) AS BIGINT)                                      AS min_k,
  CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)      AS groups_lt_5,
  CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)      AS rows_suppressed,
  round(sum(CASE WHEN k < 5 THEN k ELSE 0 END) * 1.0 / sum(k), 4)
                                                              AS suppression_rate
FROM groups
""",
    tags=("D1", "H4", "B6"),
)
def t_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit before publishing a dataset: group by the
    quasi-identifier tuple (segment, nation, account-balance band) and
    measure how many equivalence classes fall below k=5 — the rows an
    anonymizing release would have to suppress or generalize. The
    balance band (floor/1000) is the generalization step applied to
    the continuous QID.

    One shuffle to QID grain, one scalar rollup. At 100 TB the QID
    grain IS the compression: the audit output is bounded by the
    number of equivalence classes, and the suppression decision ships
    back as a broadcast join against the tiny below-k class list.
    """
    c = load_table(spark, sf_dir, "customer")
    qid = c.select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    )
    groups = qid.groupBy("seg", "nat", "bal_band").agg(F.count("*").alias("k"))
    small = F.col("k") < 5
    return groups.agg(
        F.count("*").alias("n_groups"),
        F.sum("k").alias("n_rows"),
        F.min("k").alias("min_k"),
        F.sum(F.when(small, 1).otherwise(0)).alias("groups_lt_5"),
        F.sum(F.when(small, F.col("k")).otherwise(0)).alias("rows_suppressed"),
        F.round(
            F.sum(F.when(small, F.col("k")).otherwise(0)) * 1.0 / F.sum("k"), 4
        ).alias("suppression_rate"),
    )


@register(
    "t_vocab_growth",
    oracle="""
WITH toks AS (
  SELECT DISTINCT doc_id,
    unnest([ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]
            FOR i IN generate_series(1, len(ws) - 2)]) AS tok
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
        FROM documents WHERE length(text) > 0)
),
firsts AS (
  SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok
),
bounds AS (SELECT max(doc_id) + 1 AS n_docs FROM documents),
bucketed AS (
  SELECT first_doc * 10 // bounds.n_docs AS decile, count(*) AS new_types
  FROM firsts CROSS JOIN bounds GROUP BY first_doc * 10 // bounds.n_docs
)
SELECT CAST(decile AS BIGINT) AS decile,
  CAST(new_types AS BIGINT) AS new_types,
  CAST(sum(new_types) OVER (ORDER BY decile
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
FROM bucketed ORDER BY decile
""",
    tags=("J1", "J2", "D1"),
)
def t_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law): how many NEW token types
    each corpus decile contributes, plus the cumulative vocabulary —
    the curve that sizes tokenizer vocabularies and detects
    template/boilerplate corpora (a flattening curve means new docs
    add no new language). Types are word TRIGRAMS (the fixtures'
    unigram vocabulary saturates within the first docs; trigram
    combinations grow Heaps-like). Each type is attributed to its
    first-appearance doc via min(doc_id) — one distinct + one
    aggregate, no per-prefix rescans (the naive 'distinct count per
    prefix' is quadratic; first-seen attribution is the linear
    formulation). Decile bucketing by integer division on doc_id.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    ws = F.split(F.lower("text"), " ")
    toks = (
        d.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= 3)
        .select(
            "doc_id",
            # zip of shifted slices — ws[i] inside the lambda invites
            # Catalyst to inline the ws alias and re-split per element
            # (see operators/text.py::word_shingles)
            F.explode(
                F.expr(
                    "transform(arrays_zip(slice(ws, 1, size(ws) - 2),"
                    " slice(ws, 2, size(ws) - 2), slice(ws, 3, size(ws) - 2)),"
                    " s -> concat_ws(' ', s['0'], s['1'], s['2']))"
                )
            ).alias("tok"),
        )
        .distinct()
    )
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    n_docs = (
        load_table(spark, sf_dir, "documents")
        .agg((F.max("doc_id") + 1).alias("n_docs"))
    )
    bucketed = (
        firsts.crossJoin(F.broadcast(n_docs))
        .groupBy(F.expr("first_doc * 10 div n_docs").alias("decile"))
        .agg(F.count("*").alias("new_types"))
    )
    cum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return bucketed.select(
        F.col("decile").cast("long").alias("decile"),
        "new_types",
        F.sum("new_types").over(cum).alias("cum_vocab"),
    ).orderBy("decile")


@register(
    "t_span_corruption",
    oracle="""
WITH d AS (
  SELECT doc_id, lang, string_split(text, ' ') AS ws
  FROM documents WHERE length(text) > 0
),
per AS (
  SELECT doc_id, lang,
    len(ws) AS n_tokens,
    len(list_filter([i FOR i IN generate_series(1, len(ws))],
                    i -> (i * 7919 + doc_id) % 5 = 0)) AS n_masked,
    len(list_filter([i FOR i IN generate_series(1, len(ws))],
                    i -> (i * 7919 + doc_id) % 5 = 0
                     AND NOT ((i - 1) * 7919 + doc_id) % 5 = 0)) AS n_sentinels
  FROM d
)
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
  CAST(sum(n_masked) AS BIGINT) AS sum_masked,
  CAST(sum(n_sentinels) AS BIGINT) AS sum_sentinels,
  CAST(sum(n_masked) * 1000000 // sum(n_tokens) AS BIGINT) AS corrupt_ppm
FROM per GROUP BY lang ORDER BY lang
""",
    tags=("J2", "J13", "H5"),
)
def t_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span corruption accounting: tokens are masked by
    a deterministic seedless rule ((i·7919 + doc_id) mod 5 — the
    cross-engine RNG convention), adjacent masked tokens merge into
    one sentinel span (a mask-start is a masked token whose
    predecessor is unmasked). The report per language — corruption
    rate in ppm plus sentinel counts — is exactly what a
    denoising-objective pipeline checks before training (target ~15%
    corruption, mean span length = masked/sentinels). All counting
    runs as JVM higher-order filters over the token index sequence —
    no explode, no Python.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    per = d.select(
        "lang",
        F.expr("size(split(text, ' '))").alias("n_tokens"),
        F.expr(
            "size(filter(sequence(1, size(split(text, ' '))),"
            " i -> (i * 7919 + doc_id) % 5 = 0))"
        ).alias("n_masked"),
        F.expr(
            "size(filter(sequence(1, size(split(text, ' '))),"
            " i -> (i * 7919 + doc_id) % 5 = 0"
            " AND NOT ((i - 1) * 7919 + doc_id) % 5 = 0))"
        ).alias("n_sentinels"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum("n_masked").alias("sum_masked"),
            F.sum("n_sentinels").alias("sum_sentinels"),
            F.expr("sum(n_masked) * 1000000 div sum(n_tokens)").alias("corrupt_ppm"),
        )
        .orderBy("lang")
    )


@register(
    "t_chat_template",
    oracle="""
WITH d AS (
  SELECT doc_id, lang, string_split(text, ' ') AS ws
  FROM documents WHERE len(string_split(text, ' ')) >= 2
),
halves AS (
  SELECT doc_id, lang,
    array_to_string(ws[1:len(ws) // 2], ' ') AS prompt,
    array_to_string(ws[len(ws) // 2 + 1:len(ws)], ' ') AS response,
    len(ws) // 2 AS n_prompt_toks,
    len(ws) - len(ws) // 2 AS n_response_toks
  FROM d
),
tpl AS (
  SELECT lang, n_prompt_toks, n_response_toks,
    '<|user|>' || chr(10) || prompt || chr(10) || '<|assistant|>' || chr(10) || response AS t
  FROM halves
)
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(count(DISTINCT md5(t)) AS BIGINT) AS n_distinct_templates,
  CAST(sum(length(t)) AS BIGINT) AS sum_chars,
  CAST(sum(n_prompt_toks) AS BIGINT) AS prompt_toks,
  CAST(sum(n_response_toks) AS BIGINT) AS response_toks,
  CAST(sum(CASE WHEN length(t) > 512 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_budget
FROM tpl GROUP BY lang ORDER BY lang
""",
    tags=("J13", "H1", "H4"),
)
def t_chat_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template assembly for SFT data prep: each document is
    split at the word midpoint into a (prompt, response) pair and
    rendered through the chat template ('<|user|>\\n…\\n<|assistant|>'
    \\n…'); the report counts pairs, template characters, token
    budgets and over-budget sequences per language. The
    cross-engine proof is count(DISTINCT md5(template)) — equal
    counts mean every assembled string is BYTE-identical on both
    engines (separators, newlines, slicing boundaries), which is the
    bug class template code actually has. Pure string expressions,
    JVM-side.
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.size(F.split("text", " ")) >= 2
    )
    halves = d.select("lang", F.split("text", " ").alias("ws")).select(
        "lang",
        F.expr("array_join(slice(ws, 1, size(ws) div 2), ' ')").alias("prompt"),
        F.expr(
            "array_join(slice(ws, size(ws) div 2 + 1,"
            " size(ws) - size(ws) div 2), ' ')"
        ).alias("response"),
        F.expr("cast(size(ws) div 2 as long)").alias("n_prompt_toks"),
        F.expr("cast(size(ws) - size(ws) div 2 as long)").alias("n_response_toks"),
    )
    tpl = halves.select(
        "lang",
        "n_prompt_toks",
        "n_response_toks",
        F.concat(
            F.lit("<|user|>\n"),
            F.col("prompt"),
            F.lit("\n<|assistant|>\n"),
            F.col("response"),
        ).alias("t"),
    )
    return (
        tpl.groupBy("lang")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct(F.md5("t")).alias("n_distinct_templates"),
            F.sum(F.length("t")).alias("sum_chars"),
            F.sum("n_prompt_toks").alias("prompt_toks"),
            F.sum("n_response_toks").alias("response_toks"),
            F.sum(F.when(F.length("t") > 512, 1).otherwise(0)).alias("n_over_budget"),
        )
        .orderBy("lang")
    )


@register(
    "t_incremental_dedup",
    oracle="""
WITH split AS (
  SELECT doc_id, source, lower(text) AS t,
    CASE WHEN doc_id < (SELECT (max(doc_id) * 4) // 5 FROM documents)
         THEN 'existing' ELSE 'incoming' END AS corpus
  FROM documents WHERE length(text) > 0
),
grams AS (
  SELECT DISTINCT doc_id, corpus, source,
    unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
            FOR i IN generate_series(1, len(ws) - 4)]) AS g
  FROM (SELECT doc_id, corpus, source, string_split(t, ' ') AS ws FROM split)
),
pruned AS (
  SELECT * FROM grams WHERE g IN (
    SELECT g FROM grams GROUP BY g HAVING count(*) <= 20)
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM pruned GROUP BY doc_id),
cand AS (
  SELECT i.doc_id AS new_id, e.doc_id AS old_id, CAST(count(*) AS BIGINT) AS inter
  FROM pruned i JOIN pruned e ON i.g = e.g
  WHERE i.corpus = 'incoming' AND e.corpus = 'existing'
  GROUP BY i.doc_id, e.doc_id
),
dup AS (
  SELECT DISTINCT c.new_id
  FROM cand c JOIN sizes a ON c.new_id = a.doc_id JOIN sizes b ON c.old_id = b.doc_id
  WHERE c.inter * 2 >= a.sz + b.sz - c.inter
)
SELECT s.source,
  CAST(count(*) AS BIGINT) AS n_incoming,
  CAST(sum(CASE WHEN d.new_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
  CAST(sum(CASE WHEN d.new_id IS NOT NULL THEN 1 ELSE 0 END)
       * 1000000 // count(*) AS BIGINT) AS dup_ppm
FROM split s LEFT JOIN dup d ON s.doc_id = d.new_id
WHERE s.corpus = 'incoming'
GROUP BY s.source ORDER BY s.source
""",
    tags=("J6", "J5", "C4"),
)
def t_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the shape production corpora actually run
    (a NEW batch screened against the EXISTING corpus, keep-old
    policy) rather than corpus-wide dedup from scratch: the last 20%
    of doc_ids are 'incoming', candidates come from shared 5-gram
    postings with docfreq pruning (stop-shingles with >20 postings
    dropped — the bound that keeps the posting self-join linear),
    and candidates verify with exact Jaccard ≥ 0.5 via the
    inclusion-exclusion identity (2·|∩| ≥ |A|+|B|−|∩|). Per-source
    duplicate rates are the batch's go/no-go quality gate.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    cutoff = d.agg(F.expr("(max(doc_id) * 4) div 5").alias("c"))
    split = d.crossJoin(F.broadcast(cutoff)).select(
        "doc_id",
        "source",
        F.lower("text").alias("t"),
        F.when(F.col("doc_id") < F.col("c"), "existing").otherwise("incoming").alias("corpus"),
    )
    grams = (
        split.filter(F.size(F.split("t", " ")) >= 5)
        .select(
            "doc_id",
            "corpus",
            "source",
            # zip of shifted slices — the i-indexed form re-ran
            # split(t) per element, O(words²·chars) on long docs (see
            # operators/text.py::word_shingles)
            F.explode(
                F.expr(
                    "transform(arrays_zip("
                    " slice(split(t, ' '), 1, size(split(t, ' ')) - 4),"
                    " slice(split(t, ' '), 2, size(split(t, ' ')) - 4),"
                    " slice(split(t, ' '), 3, size(split(t, ' ')) - 4),"
                    " slice(split(t, ' '), 4, size(split(t, ' ')) - 4),"
                    " slice(split(t, ' '), 5, size(split(t, ' ')) - 4)),"
                    " s -> concat_ws(' ', s['0'], s['1'], s['2'], s['3'], s['4']))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    keep = grams.groupBy("g").agg(F.count("*").alias("df")).filter(F.col("df") <= 20)
    pruned = grams.join(keep.select("g"), "g")
    sizes = pruned.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inc = pruned.filter(F.col("corpus") == "incoming").select(
        F.col("doc_id").alias("new_id"), "g"
    )
    ex = pruned.filter(F.col("corpus") == "existing").select(
        F.col("doc_id").alias("old_id"), "g"
    )
    cand = inc.join(ex, "g").groupBy("new_id", "old_id").agg(F.count("*").alias("inter"))
    dup = (
        cand.join(sizes.select(F.col("doc_id").alias("new_id"), F.col("sz").alias("sza")), "new_id")
        .join(sizes.select(F.col("doc_id").alias("old_id"), F.col("sz").alias("szb")), "old_id")
        .filter(F.expr("inter * 2 >= sza + szb - inter"))
        .select("new_id")
        .distinct()
    )
    incoming = split.filter(F.col("corpus") == "incoming")
    return (
        incoming.join(dup, incoming.doc_id == dup.new_id, "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_incoming"),
            F.sum(F.when(F.col("new_id").isNotNull(), 1).otherwise(0)).alias("n_dup"),
            F.expr(
                "sum(CASE WHEN new_id IS NOT NULL THEN 1 ELSE 0 END)"
                " * 1000000 div count(*)"
            ).alias("dup_ppm"),
        )
        .orderBy("source")
    )


_POOL = 20  # candidate documents


_PICK = 5   # coreset size


def _coverage_oracle() -> str:
    head = f"""
WITH grams AS MATERIALIZED (
  SELECT DISTINCT doc_id,
    unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
            FOR i IN generate_series(1, len(ws) - 2)]) AS g
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
        FROM documents WHERE len(string_split(text, ' ')) >= 3)
),
pool AS MATERIALIZED (
  SELECT doc_id FROM (
    SELECT doc_id, count(*) AS n,
      row_number() OVER (ORDER BY count(*) DESC, doc_id) AS rn
    FROM grams GROUP BY doc_id
  ) WHERE rn <= {_POOL}
),
pg AS MATERIALIZED (
  SELECT g.doc_id, g.g FROM grams g JOIN pool p ON g.doc_id = p.doc_id
),
s1 AS MATERIALIZED (
  SELECT doc_id, count(*) AS gain FROM pg GROUP BY doc_id
  ORDER BY gain DESC, doc_id LIMIT 1
)"""
    parts = [head]
    prev = "(SELECT doc_id FROM s1)"
    for k in range(2, _PICK + 1):
        parts.append(
            f""",
s{k} AS MATERIALIZED (
  SELECT c.doc_id, count(*) AS gain
  FROM pg c
  WHERE c.doc_id NOT IN {prev}
    AND c.g NOT IN (SELECT g FROM pg WHERE doc_id IN {prev})
  GROUP BY c.doc_id
  ORDER BY gain DESC, c.doc_id LIMIT 1
)"""
        )
        prev = (
            "(" + " UNION ALL ".join(f"SELECT doc_id FROM s{j}" for j in range(1, k + 1)) + ")"
        )
    union = "\nUNION ALL\n".join(
        f"SELECT {k} AS pick, doc_id, gain FROM s{k}" for k in range(1, _PICK + 1)
    )
    parts.append(
        f"""
SELECT CAST(pick AS BIGINT) AS pick, CAST(doc_id AS BIGINT) AS doc_id,
  CAST(gain AS BIGINT) AS new_types
FROM ({union}) ORDER BY pick"""
    )
    return "".join(parts)


@register("t_coreset_greedy_coverage", oracle=_coverage_oracle(), tags=("J5", "J13", "F3"))
def t_coreset_greedy_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage coreset selection: from the 20
    trigram-richest documents, pick 5 that together cover the most
    DISTINCT trigram types — the submodular facility-location
    primitive behind diversity-aware data pruning (each step takes
    the document adding the most NEW types; the greedy gives the
    classic (1−1/e) guarantee). The distributed stage builds the
    doc×type posting table and ranks the candidate pool; only the
    pool's postings (bounded by 20 docs) reach the driver for the
    5-step greedy — the MMR/IVF bounded-collect precedent. Oracle:
    the same greedy unrolled with NOT-IN set subtraction per level.
    """
    d = load_table(spark, sf_dir, "documents")
    grams = (
        d.filter(F.size(F.split("text", " ")) >= 3)
        .select(
            "doc_id",
            # zip of shifted slices — the i-indexed form re-ran
            # split(lower(text)) per element, O(words²·chars) on long
            # docs (see operators/text.py::word_shingles)
            F.explode(
                F.expr(
                    "transform(arrays_zip("
                    " slice(split(lower(text), ' '), 1, size(split(lower(text), ' ')) - 2),"
                    " slice(split(lower(text), ' '), 2, size(split(lower(text), ' ')) - 2),"
                    " slice(split(lower(text), ' '), 3, size(split(lower(text), ' ')) - 2)),"
                    " s -> concat_ws(' ', s['0'], s['1'], s['2']))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    counts = grams.groupBy("doc_id").agg(F.count("*").alias("n"))

    rn = F.row_number().over(W.orderBy(F.desc("n"), "doc_id"))
    pool = counts.select("doc_id", rn.alias("rn")).filter(F.col("rn") <= _POOL)
    pg = grams.join(pool.select("doc_id"), "doc_id")
    postings: dict[int, set] = {}
    for row in pg.collect():
        postings.setdefault(row["doc_id"], set()).add(row["g"])

    covered: set = set()
    picked = []
    remaining = sorted(postings)
    for pick in range(1, _PICK + 1):
        if not remaining:  # empty corpus → empty coreset, not a crash
            break
        best = None
        for doc in remaining:
            gain = len(postings[doc] - covered)
            key = (-gain, doc)
            if best is None or key < best[0]:
                best = (key, doc, gain)
        _, doc, gain = best
        if gain == 0:
            # oracle's per-level GROUP BY only sees docs with uncovered
            # types — stop identically when coverage saturates
            break
        picked.append((pick, doc, gain))
        covered |= postings[doc]
        remaining.remove(doc)
    return local_df(
        spark, picked, "pick long, doc_id long, new_types long"
    ).orderBy("pick")


def _hex5_sql(start: int) -> str:
    """DuckDB: integer value of 5 md5 hex chars [start, start+4]."""
    terms = []
    for j in range(5):
        pos = start + j
        mult = 16 ** (4 - j)
        terms.append(
            f"(ascii(substr(h, {pos}, 1))"
            f" - CASE WHEN ascii(substr(h, {pos}, 1)) >= 97 THEN 87 ELSE 48 END)"
            f" * {mult}"
        )
    return "(" + " + ".join(terms) + ")"


_BLOOM_ORACLE = f"""
WITH split AS MATERIALIZED (
  SELECT doc_id, md5(lower(text)) AS h,
    CASE WHEN doc_id < (SELECT (max(doc_id) * 4) // 5 FROM documents)
         THEN 'existing' ELSE 'incoming' END AS corpus
  FROM documents WHERE length(text) > 0
),
pos AS MATERIALIZED (
  SELECT doc_id, corpus,
    {_hex5_sql(1)} % 1048576 AS p1,
    {_hex5_sql(6)} % 1048576 AS p2,
    {_hex5_sql(11)} % 1048576 AS p3
  FROM split
),
bits AS (
  SELECT doc_id, corpus, unnest([p1, p2, p3]) AS p FROM pos
),
words AS MATERIALIZED (
  SELECT p // 63 AS w, bit_or(CAST(1 AS BIGINT) << (p % 63)) AS bitsw
  FROM bits WHERE corpus = 'existing' GROUP BY p // 63
),
screened AS (
  SELECT b.doc_id,
    bool_and(coalesce(w.bitsw, 0) & (CAST(1 AS BIGINT) << (b.p % 63)) <> 0) AS flagged
  FROM bits b LEFT JOIN words w ON b.p // 63 = w.w
  WHERE b.corpus = 'incoming'
  GROUP BY b.doc_id
),
truth AS (
  SELECT i.doc_id
  FROM split i JOIN split e ON i.h = e.h
  WHERE i.corpus = 'incoming' AND e.corpus = 'existing'
  GROUP BY i.doc_id
)
SELECT
  CAST(count(*) AS BIGINT) AS n_incoming,
  CAST(sum(CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dupes,
  CAST(sum(CASE WHEN s.flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
  CAST(sum(CASE WHEN s.flagged AND t.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_false_pos,
  bool_and(NOT (t.doc_id IS NOT NULL AND NOT s.flagged)) AS no_false_negatives
FROM screened s LEFT JOIN truth t ON s.doc_id = t.doc_id
"""


@register("t_bloom_prescreen", oracle=_BLOOM_ORACLE, tags=("J5", "D3", "C4"))
def t_bloom_prescreen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter dedup pre-screen, CROSS-ENGINE EXACT: instead of
    the engine-internal bloom (whose bit pattern no oracle can
    replay), the filter is built from first principles — k=3 bit
    positions per fingerprint from md5 hex slices (the shared hash),
    m=2^20 bit positions packed 63-per-word (DuckDB rejects shifts
    into the sign bit) via bit_or aggregation
    (order-free, hence partial-aggregable — the same mergeable
    contract as h_bitmap_distinct). Screening is a broadcast join of
    each incoming position against its word; a doc flags only if ALL
    three bits are set. Every number — flagged, false positives, the
    no-false-negative guarantee — is bit-identical on both engines,
    so the bloom CONTRACT is proven exactly, not bounded.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    cutoff = d.agg(F.expr("(max(doc_id) * 4) div 5").alias("c"))
    split = d.crossJoin(F.broadcast(cutoff)).select(
        "doc_id",
        F.md5(F.lower("text")).alias("h"),
        F.when(F.col("doc_id") < F.col("c"), "existing")
        .otherwise("incoming")
        .alias("corpus"),
    )

    def hex5(start: int):
        v = F.lit(0)
        for j in range(5):
            a = F.ascii(F.substring("h", start + j, 1))
            digit = a - F.when(a >= 97, 87).otherwise(48)
            v = v * 16 + digit
        return v

    pos = split.select(
        "doc_id",
        "corpus",
        (hex5(1) % 1048576).alias("p1"),
        (hex5(6) % 1048576).alias("p2"),
        (hex5(11) % 1048576).alias("p3"),
    )
    bits = pos.select(
        "doc_id", "corpus", F.explode(F.array("p1", "p2", "p3")).alias("p")
    )
    words = (
        bits.filter(F.col("corpus") == "existing")
        .groupBy(F.expr("p div 63").alias("w"))
        .agg(F.bit_or(F.expr("shiftleft(cast(1 as bigint), cast(p % 63 as int))")).alias("bitsw"))
    )
    screened = (
        bits.filter(F.col("corpus") == "incoming")
        .join(F.broadcast(words), F.expr("p div 63") == F.col("w"), "left")
        .groupBy("doc_id")
        .agg(
            F.bool_and(
                F.expr(
                    "coalesce(bitsw, 0) & shiftleft(cast(1 as bigint),"
                    " cast(p % 63 as int)) != 0"
                )
            ).alias("flagged")
        )
    )
    ex = split.filter(F.col("corpus") == "existing").select(F.col("h").alias("eh"))
    truth = (
        split.filter(F.col("corpus") == "incoming")
        .join(ex, F.col("h") == F.col("eh"))
        .select("doc_id")
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        screened.join(truth, "doc_id", "left")
        .agg(
            F.count("*").alias("n_incoming"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("n_true_dupes"),
            F.sum(F.when(F.col("flagged"), 1).otherwise(0)).alias("n_flagged"),
            F.sum(
                F.when(F.col("flagged") & F.col("is_dup").isNull(), 1).otherwise(0)
            ).alias("n_false_pos"),
            F.bool_and(
                ~(F.col("is_dup").isNotNull() & ~F.col("flagged"))
            ).alias("no_false_negatives"),
        )
    )


@register(
    "t_sft_lint",
    oracle="""
WITH d AS (
  SELECT lang, string_split(text, ' ') AS ws
  FROM documents WHERE len(string_split(text, ' ')) >= 2
),
halves AS (
  SELECT lang,
    len(ws) // 2 AS p_toks,
    len(ws) - len(ws) // 2 AS r_toks,
    array_to_string(ws[1:len(ws) // 2], ' ') AS prompt,
    array_to_string(ws[len(ws) // 2 + 1:len(ws)], ' ') AS response
  FROM d
)
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(sum(CASE WHEN r_toks < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_short_response,
  CAST(sum(CASE WHEN prompt = response THEN 1 ELSE 0 END) AS BIGINT) AS n_echo,
  CAST(sum(CASE WHEN p_toks + r_toks > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_budget
FROM halves GROUP BY lang ORDER BY lang
""",
    tags=("J13", "J2"),
)
def t_sft_lint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT instruction-data linting over the t_chat_template pairs:
    the three defect classes every fine-tuning set is screened for —
    degenerate short responses (< 3 tokens teach nothing), echo
    pairs (response byte-equal to the prompt: the model would learn
    to parrot), and over-budget sequences (> 100 tokens here,
    truncation fodder). Pure string/integer expressions; per-language
    defect counts are the dataset-card table.
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.size(F.split("text", " ")) >= 2
    )
    halves = d.select("lang", F.split("text", " ").alias("ws")).select(
        "lang",
        F.expr("cast(size(ws) div 2 as long)").alias("p_toks"),
        F.expr("cast(size(ws) - size(ws) div 2 as long)").alias("r_toks"),
        F.expr("array_join(slice(ws, 1, size(ws) div 2), ' ')").alias("prompt"),
        F.expr(
            "array_join(slice(ws, size(ws) div 2 + 1, size(ws) - size(ws) div 2), ' ')"
        ).alias("response"),
    )
    return (
        halves.groupBy("lang")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.when(F.col("r_toks") < 3, 1).otherwise(0)).alias("n_short_response"),
            F.sum(F.when(F.col("prompt") == F.col("response"), 1).otherwise(0)).alias("n_echo"),
            F.sum(F.when(F.col("p_toks") + F.col("r_toks") > 100, 1).otherwise(0)).alias(
                "n_over_budget"
            ),
        )
        .orderBy("lang")
    )


@register(
    "t_hapax_profile",
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents WHERE length(text) > 0
),
freqs AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS f
  FROM toks WHERE tok <> '' GROUP BY source, tok
)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_types,
  CAST(sum(f) AS BIGINT) AS n_tokens,
  CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
  CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis,
  CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
    AS hapax_ppm
FROM freqs GROUP BY source ORDER BY source
""",
    tags=("J1", "J2", "D1"),
)
def t_hapax_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical long-tail profile per source: hapax legomena (types
    seen once) and dis legomena (twice) — the frequency tail that
    decides tokenizer vocabulary sizes and Good-Turing smoothing
    mass (P(unseen) ≈ hapax/tokens), and a corpus-health tell (a
    machine-generated source shows an unnaturally thin tail). One
    (source, type) frequency rollup; all counts exact.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    freqs = (
        d.select("source", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count("*").alias("f"))
    )
    return (
        freqs.groupBy("source")
        .agg(
            F.count("*").alias("n_types"),
            F.sum("f").alias("n_tokens"),
            F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).alias("n_hapax"),
            F.sum(F.when(F.col("f") == 2, 1).otherwise(0)).alias("n_dis"),
            F.expr(
                "sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 1000000 div count(*)"
            ).alias("hapax_ppm"),
        )
        .orderBy("source")
    )


@register(
    "t_crosslang_dupes",
    oracle="""
WITH fp AS (
  SELECT DISTINCT lang, md5(lower(trim(text))) AS h
  FROM documents WHERE length(text) > 0
),
pairs AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b, CAST(count(*) AS BIGINT) AS n_shared
  FROM fp a JOIN fp b ON a.h = b.h AND a.lang < b.lang
  GROUP BY a.lang, b.lang
)
SELECT lang_a, lang_b, n_shared
FROM pairs ORDER BY n_shared DESC, lang_a, lang_b
""",
    tags=("J5", "J2", "C1"),
)
def t_crosslang_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual contamination: byte-identical normalized content
    filed under DIFFERENT language tags — in a multilingual corpus
    this is either mislabeled language metadata or untranslated
    copy-through, and both poison language-balanced sampling
    (t_temperature_mix would over-draw the duplicated content). The
    check is a fingerprint equi-join across language partitions at
    (lang, hash) grain — linear, and the md5 fingerprint is the
    engine-shared hash.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    fp = d.select(
        "lang", F.md5(F.lower(F.trim("text"))).alias("h")
    ).distinct()
    a = fp.alias("a")
    b = fp.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.lang") < F.col("b.lang")))
        .groupBy(F.col("a.lang").alias("lang_a"), F.col("b.lang").alias("lang_b"))
        .agg(F.count("*").alias("n_shared"))
        .orderBy(F.desc("n_shared"), "lang_a", "lang_b")
    )


@register(
    "t_epoch_shuffle",
    oracle="""
WITH epochs AS (SELECT unnest(generate_series(0, 2)) AS epoch),
keyed AS (
  SELECT e.epoch, d.doc_id,
    md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(e.epoch AS VARCHAR)) AS k
  FROM documents d CROSS JOIN epochs e
),
ordered AS (
  SELECT epoch, doc_id,
    CAST(row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id) AS BIGINT) AS pos
  FROM keyed
)
SELECT CAST(epoch AS BIGINT) AS epoch,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(pos * doc_id) % 1000000007 AS BIGINT) AS order_checksum,
  CAST(sum(CASE WHEN pos = doc_id + 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_fixed_points
FROM ordered GROUP BY epoch ORDER BY epoch
""",
    tags=("J13", "H4", "F1"),
)
def t_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible per-epoch shuffling: each training epoch orders
    the corpus by md5(doc_id:epoch) — a different permutation every
    epoch (the regularization shuffling buys) that is SEEDLESSLY
    reproducible on any engine and any partitioning (the property
    checkpoint-resume needs: re-running epoch k replays its exact
    order). The per-epoch order checksum Σ pos·doc_id (mod p) pins
    the whole permutation in one number; the near-zero fixed-point
    counts show the orders genuinely differ from the natural one.
    Assigning positions is one rank per epoch over the hash key —
    at 100 TB the sort key doubles as the range-partition key, so
    the shuffle IS the write order.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(0, 3).select(F.col("id").cast("int").alias("epoch"))
    keyed = d.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat_ws(":", F.col("doc_id").cast("string"), F.col("epoch").cast("string"))
        ).alias("k"),
    )
    w = W.partitionBy("epoch").orderBy("k", "doc_id")
    ordered = keyed.select(
        "epoch", "doc_id", F.row_number().over(w).cast("long").alias("pos")
    )
    return (
        ordered.groupBy(F.col("epoch").cast("long").alias("epoch"))
        .agg(
            F.count("*").alias("n_docs"),
            (F.sum(F.col("pos") * F.col("doc_id")) % 1000000007).alias("order_checksum"),
            F.sum(F.when(F.col("pos") == F.col("doc_id") + 1, 1).otherwise(0)).alias(
                "n_fixed_points"
            ),
        )
        .orderBy("epoch")
    )


_BPE_ROUNDS = 3


def _bpe_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Space-padded symbol strings, one per corpus word: 'hello' →
    ' h e l l o '. The padding makes every symbol boundary a space so
    a merge of pair (x, y) is the plain substring swap
    ' x y ' → ' xy ' — no regex lookaround (which RE2/DuckDB lacks)."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w")
    ).filter((F.length("w") >= 2) & (F.length("w") <= 12))
    return words.select(
        F.concat(F.lit(" "), F.regexp_replace(F.col("w"), "(.)", "$1 ")).alias("s")
    )


@register(
    "t_bpe_merge_rounds",
    oracle=f"""
WITH w0 AS (
  SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s
  FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
    FROM documents
  ) WHERE len(w) BETWEEN 2 AND 12
),
p1 AS (
  SELECT pair, count(*) AS c FROM (
    SELECT unnest([array_extract(a, i) || ' ' || array_extract(a, i + 1)
                   FOR i IN range(1, len(a))]) AS pair
    FROM (SELECT string_split(trim(s), ' ') AS a FROM w0)
  ) GROUP BY pair
),
m1 AS (SELECT pair FROM p1 ORDER BY c DESC, pair LIMIT 1),
w1 AS (SELECT replace(s, ' ' || (SELECT pair FROM m1) || ' ',
                      ' ' || replace((SELECT pair FROM m1), ' ', '') || ' ') AS s
       FROM w0),
p2 AS (
  SELECT pair, count(*) AS c FROM (
    SELECT unnest([array_extract(a, i) || ' ' || array_extract(a, i + 1)
                   FOR i IN range(1, len(a))]) AS pair
    FROM (SELECT string_split(trim(s), ' ') AS a FROM w1)
  ) GROUP BY pair
),
m2 AS (SELECT pair FROM p2 ORDER BY c DESC, pair LIMIT 1),
w2 AS (SELECT replace(s, ' ' || (SELECT pair FROM m2) || ' ',
                      ' ' || replace((SELECT pair FROM m2), ' ', '') || ' ') AS s
       FROM w1),
p3 AS (
  SELECT pair, count(*) AS c FROM (
    SELECT unnest([array_extract(a, i) || ' ' || array_extract(a, i + 1)
                   FOR i IN range(1, len(a))]) AS pair
    FROM (SELECT string_split(trim(s), ' ') AS a FROM w2)
  ) GROUP BY pair
),
m3 AS (SELECT pair FROM p3 ORDER BY c DESC, pair LIMIT 1),
w3 AS (SELECT replace(s, ' ' || (SELECT pair FROM m3) || ' ',
                      ' ' || replace((SELECT pair FROM m3), ' ', '') || ' ') AS s
       FROM w2)
SELECT
  replace((SELECT pair FROM m1), ' ', '') AS merge1,
  replace((SELECT pair FROM m2), ' ', '') AS merge2,
  replace((SELECT pair FROM m3), ' ', '') AS merge3,
  CAST((SELECT sum(len(string_split(trim(s), ' '))) FROM w3) AS BIGINT)
    AS n_tokens_final,
  CAST((SELECT count(DISTINCT sym) FROM
        (SELECT unnest(string_split(trim(s), ' ')) AS sym FROM w3)) AS BIGINT)
    AS n_symbols_final
""",
    tags=("J1", "J4"),
)
def t_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual BPE training loop, not just its unit of work: three
    merge→recount rounds over the corpus. Each round counts adjacent
    symbol pairs (explode over the symbol array — the shuffle key
    space is bounded by the growing vocab², not corpus size), picks
    the most frequent pair (ties broken lexicographically — the
    determinism contract), and applies the merge as a plain substring
    replace on space-padded symbol strings (left-to-right
    non-overlapping in both engines; no regex lookaround, which the
    oracle's RE2 engine doesn't support). Only the single argmax pair
    is collected per round — driver traffic is O(rounds), corpus stays
    distributed. Emits the learned merges + final token/vocab counts."""
    from parking_violations_data_pipeline_spark.operators.graph import (
        _release_local_checkpoint,
    )

    w = _bpe_words(spark, sf_dir)
    merges: list[str] = []
    for _ in range(_BPE_ROUNDS):
        pairs = (
            w.select(F.split(F.trim(F.col("s")), " ").alias("a"))
            .select(
                F.explode(
                    # guard size(a) < 2: sequence(1, 0) is Spark's
                    # DESCENDING [1, 0], which indexes out of bounds —
                    # a word fully merged into ONE symbol has no pairs
                    F.expr(
                        "CASE WHEN size(a) >= 2 THEN"
                        " transform(sequence(1, size(a) - 1),"
                        " i -> concat(a[i - 1], ' ', a[i]))"
                        " ELSE array() END"
                    )
                ).alias("pair")
            )
            .groupBy("pair")
            .agg(F.count("*").alias("c"))
        )
        best_rows = pairs.orderBy(F.desc("c"), "pair").limit(1).collect()
        if not best_rows:
            # corpus produced no adjacent pairs (empty/degenerate
            # input): remaining merges are NULL, like the oracle's
            # empty scalar subqueries
            break
        best = best_rows[0]["pair"]
        merges.append(best)
        prev = w
        w = w.select(
            F.expr(
                "replace(s, ' {0} ', ' {1} ')".format(best, best.replace(" ", ""))
            ).alias("s")
        )
        # materialize each round's corpus once (the next round's pair
        # count and the replace chain otherwise recompute all prior
        # rounds for every action), then RELEASE the superseded
        # round's checkpoint — eager=False left every round's blocks
        # pinned for the session lifetime (the connected_components
        # leak class; no-op on round 1, where prev is not a checkpoint)
        w = w.localCheckpoint(eager=True)
        _release_local_checkpoint(prev)
    def _merge_lit(i: int):
        return (
            F.lit(merges[i].replace(" ", ""))
            if i < len(merges)
            else F.lit(None).cast("string")
        )

    syms = w.select(F.explode(F.split(F.trim(F.col("s")), " ")).alias("sym"))
    return syms.agg(
        _merge_lit(0).alias("merge1"),
        _merge_lit(1).alias("merge2"),
        _merge_lit(2).alias("merge3"),
        # NULL (not 0) on an empty corpus, matching the oracle's
        # sum-of-lengths scalar subquery
        F.when(F.count("*") > 0, F.count("*")).alias("n_tokens_final"),
        F.countDistinct("sym").alias("n_symbols_final"),
    )


@register(
    "t_dataset_card",
    oracle="""
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST(count(DISTINCT md5(text)) * 1000000 // count(*) AS BIGINT)
    AS unique_ppm,
  CAST(sum(n_chars) * 1000 // count(*) AS BIGINT) AS mean_chars_milli
FROM documents GROUP BY source ORDER BY source
""",
    tags=("J2", "D2"),
)
def t_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source dataset card a corpus release ships with: doc
    and char volume, language breadth, exact-uniqueness rate (distinct
    md5 over text — the dedup headline number) and mean length, the
    ratios as integer ppm/milli so the card is bit-identical
    cross-engine. One hash-aggregate; the two count-distincts expand
    rather than re-scan."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.expr("count(DISTINCT md5(text)) * 1000000 div count(*)").alias(
                "unique_ppm"
            ),
            F.expr("sum(n_chars) * 1000 div count(*)").alias("mean_chars_milli"),
        )
        .orderBy("source")
    )


@register(
    "t_l_diversity",
    oracle="""
WITH g AS (
  SELECT lang, n_chars // 500 AS size_bucket,
    count(*) AS k, count(DISTINCT source) AS l
  FROM documents GROUP BY lang, size_bucket
)
SELECT
  CAST(count(*) AS BIGINT) AS n_groups,
  CAST(min(k) AS BIGINT) AS min_k,
  CAST(min(l) AS BIGINT) AS min_l,
  CAST(count(*) FILTER (WHERE l < 2) AS BIGINT) AS n_low_diversity,
  CAST(coalesce(sum(k) FILTER (WHERE l < 2), 0) AS BIGINT) AS docs_at_risk
FROM g
""",
    tags=("J2", "D2"),
)
def t_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit, the companion to t_k_anonymity: within each
    quasi-identifier group (lang × 500-char size bucket), how many
    DISTINCT sensitive values (source) appear? A group can be
    k-anonymous yet still leak — if all its members share one source,
    membership reveals it. Emits the group census, worst-case k and l,
    and the rows exposed by homogeneous (l<2) groups. One
    hash-aggregate over the QI key then a scalar rollup of the tiny
    group frame."""
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy(
        "lang", F.expr("n_chars div 500").alias("size_bucket")
    ).agg(
        F.count("*").alias("k"),
        F.countDistinct("source").alias("l"),
    )
    return g.agg(
        F.count("*").alias("n_groups"),
        F.min("k").alias("min_k"),
        F.min("l").alias("min_l"),
        F.count(F.when(F.col("l") < 2, 1)).alias("n_low_diversity"),
        F.coalesce(F.sum(F.when(F.col("l") < 2, F.col("k"))), F.lit(0)).alias(
            "docs_at_risk"
        ),
    )


@register(
    "t_fim_split",
    oracle="""
WITH d AS (
  SELECT source, text, length(text) AS n,
    ('0x' || substr(md5(text || '-p'), 1, 8))::BIGINT AS h1,
    ('0x' || substr(md5(text || '-m'), 1, 8))::BIGINT AS h2
  FROM documents WHERE length(text) >= 6
),
sp AS (
  SELECT source, text, n,
    1 + (h1 % (n // 3)) AS a,
    n - 1 - (h2 % (n // 3)) AS b
  FROM d
)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(a) AS BIGINT) AS prefix_chars,
  CAST(sum(length(substr(text, a + 1, b - a))) AS BIGINT) AS middle_chars,
  CAST(sum(n - b) AS BIGINT) AS suffix_chars,
  (sum(a) + sum(b - a) + sum(n - b) = sum(n)) AS reconstructed,
  CAST(sum(b - a) * 1000000 // sum(n) AS BIGINT) AS middle_ppm
FROM sp GROUP BY source ORDER BY source
""",
    tags=("J1", "H4"),
)
def t_fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle split planning — the FIM transform
    (prefix / middle / suffix with the middle moved to the end) that
    code-model training applies to a slice of every corpus. Split
    points are content-hash-derived (md5 → conv(…,16,10), the
    cross-engine hex-to-int bridge), so the plan is reproducible
    without a seed store and re-shuffles per content change. Each
    side keeps ≥1 char by construction (a ≤ n/3 < b). The middle
    segment is measured by actually substring-ing the text — and the
    conservation law prefix + middle + suffix = total chars is
    emitted in-plan per source."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= 6)
        .select(
            "source",
            "text",
            F.length("text").alias("n"),
            F.expr(
                "cast(conv(substr(md5(concat(text, '-p')), 1, 8), 16, 10) as bigint)"
            ).alias("h1"),
            F.expr(
                "cast(conv(substr(md5(concat(text, '-m')), 1, 8), 16, 10) as bigint)"
            ).alias("h2"),
        )
    )
    sp = d.select(
        "source",
        "text",
        "n",
        (F.lit(1) + F.col("h1") % F.expr("n div 3")).alias("a"),
        (F.col("n") - 1 - F.col("h2") % F.expr("n div 3")).alias("b"),
    )
    return (
        sp.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("a").alias("prefix_chars"),
            F.sum(
                F.length(
                    F.expr("substr(text, cast(a + 1 as int), cast(b - a as int))")
                )
            ).alias("middle_chars"),
            F.sum(F.col("n") - F.col("b")).alias("suffix_chars"),
            (
                F.sum("a") + F.sum(F.col("b") - F.col("a"))
                + F.sum(F.col("n") - F.col("b"))
                == F.sum("n")
            ).alias("reconstructed"),
            F.expr("sum(b - a) * 1000000 div sum(n)").alias("middle_ppm"),
        )
        .orderBy("source")
    )


@register(
    "t_preference_pairs",
    oracle="""
WITH scored AS (
  SELECT doc_id, lang,
    len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        w -> w != '')) * 100 // greatest(length(text), 1) AS score
  FROM documents
),
ranked AS (
  SELECT doc_id, lang, score,
    row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rtop,
    row_number() OVER (PARTITION BY lang ORDER BY score, doc_id) AS rbot,
    count(*) OVER (PARTITION BY lang) AS n
  FROM scored
),
pairs AS (
  SELECT t.lang, t.score AS chosen, b.score AS rejected
  FROM ranked t JOIN ranked b
    ON t.lang = b.lang AND t.rtop = b.rbot AND t.rtop <= t.n // 4
)
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(sum(chosen - rejected) AS BIGINT) AS sum_margin,
  CAST(min(chosen - rejected) AS BIGINT) AS min_margin,
  bool_and(chosen >= rejected) AS ordered_ok
FROM pairs GROUP BY lang ORDER BY lang
""",
    tags=("E1", "C1"),
)
def t_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction — the DPO/RLHF data-prep op: within
    each language stratum, the i-th best document (by a simple
    word-density quality score, integer per-100-chars) is paired with
    the i-th worst, for the top quartile — maximally-separated pairs
    with a deterministic (score, doc_id) rank on both ends. The margin
    distribution and the ordering guarantee (chosen ≥ rejected — equal
    scores can meet only at the exact median crossing) come out
    in-plan. Two rank windows on ONE lang shuffle + a self-join on the
    rank equality."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        F.expr(
            "size(filter(split(lower(text), '[^a-z]+'), w -> w != '')) * 100"
            " div greatest(length(text), 1)"
        ).alias("score"),
    )
    w = W.partitionBy("lang")
    ranked = scored.select(
        "doc_id",
        "lang",
        "score",
        F.row_number().over(w.orderBy(F.desc("score"), "doc_id")).alias("rtop"),
        F.row_number().over(w.orderBy("score", "doc_id")).alias("rbot"),
        F.count("*").over(w).alias("n"),
    )
    t = ranked.alias("t")
    b = ranked.alias("b")
    pairs = t.join(
        b,
        (F.col("t.lang") == F.col("b.lang"))
        & (F.col("t.rtop") == F.col("b.rbot"))
        & (F.col("t.rtop") <= F.expr("t.n div 4")),
    ).select(
        F.col("t.lang").alias("lang"),
        F.col("t.score").alias("chosen"),
        F.col("b.score").alias("rejected"),
    )
    return (
        pairs.groupBy("lang")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("chosen") - F.col("rejected")).alias("sum_margin"),
            F.min(F.col("chosen") - F.col("rejected")).alias("min_margin"),
            F.every(F.col("chosen") >= F.col("rejected")).alias("ordered_ok"),
        )
        .orderBy("lang")
    )


@register(
    "t_consistent_sample",
    oracle="""
WITH hashed AS (
  SELECT doc_id, n_chars,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000
      AS u
  FROM documents
),
full_sample AS (SELECT * FROM hashed WHERE u < 100000),
half_corpus AS (SELECT * FROM hashed WHERE doc_id % 2 = 0),
half_sample AS (SELECT * FROM half_corpus WHERE u < 100000)
SELECT
  CAST((SELECT count(*) FROM full_sample) AS BIGINT) AS n_sampled,
  CAST((SELECT sum(n_chars) FROM full_sample) AS BIGINT) AS sampled_chars,
  CAST((SELECT count(*) FROM half_sample) AS BIGINT) AS n_half_sampled,
  ((SELECT count(*) FROM half_sample)
   = (SELECT count(*) FROM full_sample WHERE doc_id % 2 = 0))
    AS subset_stable
""",
    tags=("F4", "H4"),
)
def t_consistent_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent sampling: a document is in the ~10% sample iff
    md5(doc_id) maps below a fixed threshold — membership depends ONLY
    on the row itself, so the sample of any subset equals the subset
    of the sample (proven in-plan: sampling half the corpus yields
    exactly the full sample's rows restricted to that half). That
    stability is what makes eval sets, debugging slices and A/B
    holdouts survive corpus growth — a seeded Bernoulli draw
    re-randomizes on every change in row order or count. Same
    md5-to-int bridge as t_fim_split; zero shuffle beyond the final
    count."""
    d = load_table(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id",
        "n_chars",
        F.expr(
            "cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10)"
            " as bigint) % 1000000"
        ).alias("u"),
    )
    full_sample = hashed.filter(F.col("u") < 100000)
    half_sample = hashed.filter((F.col("doc_id") % 2 == 0) & (F.col("u") < 100000))
    full_on_half = full_sample.filter(F.col("doc_id") % 2 == 0)
    return (
        full_sample.agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
        )
        .crossJoin(half_sample.agg(F.count("*").alias("n_half_sampled")))
        .crossJoin(full_on_half.agg(F.count("*").alias("n_check")))
        .select(
            "n_sampled",
            "sampled_chars",
            "n_half_sampled",
            (F.col("n_half_sampled") == F.col("n_check")).alias(
                "subset_stable"
            ),
        )
    )


K = 4  # tokens per k-gram


WIN = 4  # winnowing window (guarantee threshold = WIN + K - 1 = 7 tokens)


# Shared pipeline, DuckDB spelling. Lists are 1-indexed; list_slice is
# (begin, end) inclusive where Spark's slice is (start, length).
# DuckDB has the same quadratic hazard as Spark, in its own flavor: a
# lambda that references the OUTER list (list_slice(ws, i+1, i+K)
# inside list_transform(range(...))) duplicates that list per element
# — measured minutes on the extremes fixture's 30k-token doc. Both
# engines therefore use the identical zip-of-shifted-slices shape,
# where every lambda touches only its own zip element (0.04 s for the
# same doc).
def _zip_slices(arr: str, width: int) -> str:
    """list_zip of `width` shifted slices of list column `arr`:
    element j is (arr[j+1], ..., arr[j+width]), len(arr)-width+1 rows."""
    slices = ", ".join(
        f"list_slice({arr}, {k + 1}, len({arr}) - {width - 1} + {k})"
        for k in range(width)
    )
    return f"list_zip({slices})"


_GRAM_CONCAT = " || ' ' || ".join(f"x[{k + 1}]" for k in range(K))


_WIN_LEAST = "least(" + ", ".join(f"x[{k + 1}]" for k in range(WIN)) + ")"


_FPS_ORACLE = f"""
w AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws
  FROM documents
),
g AS (
  SELECT doc_id,
    list_transform({_zip_slices('ws', K)}, x -> {_GRAM_CONCAT}) AS grams
  FROM w WHERE len(ws) >= {K}
),
h AS (
  SELECT doc_id,
    list_transform(grams, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
  FROM g
),
fp AS (
  SELECT doc_id,
    unnest(list_distinct(list_transform({_zip_slices('hs', WIN)},
      x -> {_WIN_LEAST}))) AS fph
  FROM h WHERE len(hs) >= {WIN}
)
"""


def _fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fph): distinct winnowing fingerprints per document.

    Mirror of _FPS_ORACLE, in the inlining-safe shape: k-grams via
    word_shingles (zipped shifted slices), window minima via
    arrays_zip of WIN shifted slices of the hash array with least()
    over the zip element — no lambda ever indexes an aliased array,
    so CollapseProject cannot turn the plan quadratic (the class
    operators/text.py:word_shingles documents; the first draft of
    this module hit it for 10+ minutes on the extremes fixture's
    30k-token doc).
    """
    d = load_table(spark, sf_dir, "documents")
    sh = word_shingles(
        d.select("doc_id", F.trim("text").alias("text")), K, out="grams"
    )
    hs = sh.select(
        "doc_id",
        F.transform(
            F.col("grams"),
            lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("bigint"),
        ).alias("__hs"),
    ).filter(F.size("__hs") >= WIN)
    m = F.size("__hs") - (WIN - 1)
    zw = F.arrays_zip(*[F.slice("__hs", k + 1, m) for k in range(WIN)])
    fps = F.array_distinct(
        F.transform(zw, lambda s: F.least(*[s[str(k)] for k in range(WIN)]))
    )
    return hs.select("doc_id", F.explode(fps).alias("fph"))


@register(
    "t_winnow_decontam",
    oracle=f"""
WITH {_FPS_ORACLE},
bench AS (SELECT DISTINCT fph FROM fp WHERE doc_id % 50 = 0),
corpus AS (SELECT doc_id, fph FROM fp WHERE doc_id % 50 <> 0)
SELECT c.doc_id,
  CAST(count(*) AS BIGINT) AS n_fp,
  CAST(count(b.fph) AS BIGINT) AS n_shared,
  (count(b.fph) >= 1) AS contaminated
FROM corpus c LEFT JOIN bench b USING (fph)
GROUP BY c.doc_id ORDER BY c.doc_id
""",
    tags=("J4", "J6", "H4", "H5"),
)
def t_winnow_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by winnowing fingerprints: every 50th
    doc plays the held-out benchmark; each remaining corpus document
    reports its fingerprint count, how many fingerprints the benchmark
    set shares, and the resulting contamination verdict. Unlike the
    n-gram twin (t_contamination), the corpus side ships only its
    winnowed fingerprints into the join — ~2/(WIN+1) of the k-grams —
    while keeping the deterministic guarantee that any shared run of
    WIN+K-1 tokens is detected. The benchmark fingerprint set is
    broadcast (benchmarks are MBs against TB corpora), so the corpus
    never shuffles: scan -> fold -> explode -> broadcast-join ->
    partial agg."""
    fp = _fingerprints(spark, sf_dir)
    is_bench = F.col("doc_id") % 50 == 0
    bench = (
        fp.filter(is_bench)
        .select("fph")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        fp.filter(~is_bench)
        .join(maybe_broadcast(bench, sf_dir, "documents"), on="fph", how="left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_fp"),
            F.count("hit").alias("n_shared"),
            (F.count("hit") >= 1).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


@register(
    "t_winnow_neardup_pairs",
    oracle=f"""
WITH {_FPS_ORACLE},
df AS (
  SELECT fph FROM fp GROUP BY fph HAVING count(*) <= 20
),
pruned AS (SELECT fp.doc_id, fp.fph FROM fp JOIN df USING (fph)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(count(*) AS BIGINT) AS n_shared_fp
  FROM pruned a JOIN pruned b
    ON a.fph = b.fph AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_shared_fp
FROM pairs WHERE n_shared_fp >= 2
ORDER BY n_shared_fp DESC, doc_a, doc_b LIMIT 50
""",
    tags=("J6", "J9", "C1"),
)
def t_winnow_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plagiarism-style near-dup pairs: documents sharing >= 2
    winnowing fingerprints, ranked by overlap. The self-join is on the
    fingerprint value — the same bucket-join shape as the LSH dedup
    path (J9), never all-pairs — and stop-fingerprints (boilerplate
    phrases appearing in > 20 documents) are pruned by document
    frequency BEFORE the join, exactly like j_shingle_containment's
    docfreq pruning, so one viral phrase cannot quadratically explode
    a bucket at corpus scale. Deterministic top-50 with (doc_a, doc_b)
    tie-break."""
    fp = _fingerprints(spark, sf_dir)
    keep = fp.groupBy("fph").agg(F.count("*").alias("df")).filter(F.col("df") <= 20)
    pruned = fp.join(keep.select("fph"), on="fph", how="inner")
    b = pruned.select(F.col("doc_id").alias("doc_b"), "fph")
    return (
        pruned.select(F.col("doc_id").alias("doc_a"), "fph")
        .join(b, on="fph", how="inner")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_fp"))
        .filter(F.col("n_shared_fp") >= 2)
        .orderBy(F.desc("n_shared_fp"), "doc_a", "doc_b")
        .limit(50)
    )


@register(
    "t_winnow_attribution",
    oracle=f"""
WITH {_FPS_ORACLE},
bench AS (SELECT doc_id AS bench_id, fph FROM fp WHERE doc_id % 50 = 0),
corpus AS (SELECT doc_id, fph FROM fp WHERE doc_id % 50 <> 0)
SELECT c.doc_id, b.bench_id,
  CAST(count(*) AS BIGINT) AS n_shared_fp
FROM corpus c JOIN bench b USING (fph)
GROUP BY c.doc_id, b.bench_id
ORDER BY n_shared_fp DESC, c.doc_id, b.bench_id LIMIT 30
""",
    tags=("J6", "J14", "C3"),
)
def t_winnow_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination ATTRIBUTION: not just 'this document is
    contaminated' (t_winnow_decontam) but by WHICH benchmark document
    — the per-(corpus, benchmark) shared-fingerprint counts a
    decontamination audit actually actions. The benchmark side keeps
    its doc_id through the broadcast join, so the corpus still never
    shuffles before the pair aggregate; fingerprint sets are distinct
    per doc, making count(*) the exact shared-fingerprint cardinality.
    Deterministic top-30 with (corpus, bench) tie-break."""
    fp = _fingerprints(spark, sf_dir)
    is_bench = F.col("doc_id") % 50 == 0
    bench = fp.filter(is_bench).select(
        F.col("doc_id").alias("bench_id"), "fph"
    )
    return (
        fp.filter(~is_bench)
        .join(maybe_broadcast(bench, sf_dir, "documents"), on="fph", how="inner")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_shared_fp"))
        .orderBy(F.desc("n_shared_fp"), "doc_id", "bench_id")
        .limit(30)
    )
