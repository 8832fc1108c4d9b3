"""M-family entries: multimodal binary columns. Image and audio codecs
decoded in place, modality routing, perceptual-hash near-duplicates and
the quarantine of corrupt blobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.catalog import load_table
from parking_violations_data_pipeline_spark.operators import multimodal as MM
from parking_violations_data_pipeline_spark.registry import register


@register(
    "m_modality_router",
    oracle="""
WITH b AS (
  SELECT doc_id, text, hex(encode(text)) AS h,
         octet_length(encode(text)) AS n
  FROM documents
),
m AS (
  -- features over UTF-8 BYTES via the hex dump (characterwise only
  -- matched the engine's byte path on pure ASCII); NULL text -> NULL
  SELECT doc_id, n,
    CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
                    ELSE 'video/mp4' END AS mime,
    CASE WHEN text IS NULL THEN NULL ELSE CASE doc_id % 3
      WHEN 0 THEN CASE WHEN n >= 4
        THEN 16*(instr('0123456789ABCDEF', substring(h, 1, 1))-1)
               + (instr('0123456789ABCDEF', substring(h, 2, 1))-1)
           + 16*(instr('0123456789ABCDEF', substring(h, 3, 1))-1)
               + (instr('0123456789ABCDEF', substring(h, 4, 1))-1)
           + 16*(instr('0123456789ABCDEF', substring(h, 5, 1))-1)
               + (instr('0123456789ABCDEF', substring(h, 6, 1))-1)
           + 16*(instr('0123456789ABCDEF', substring(h, 7, 1))-1)
               + (instr('0123456789ABCDEF', substring(h, 8, 1))-1)
        ELSE -1 END
      WHEN 1 THEN n // 256
      ELSE CASE WHEN n = 0 THEN 0 ELSE 1 + (n - 1) // 64 END
    END END AS feature
  FROM b
)
SELECT mime,
  CAST(count(*) AS BIGINT)    AS n_docs,
  CAST(sum(n) AS BIGINT)      AS total_bytes,
  CAST(sum(feature) AS BIGINT) AS sum_feature
FROM m GROUP BY mime ORDER BY mime
""",
    tags=("MM", "K2"),
)
def m_modality_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-media routing: a corpus interleaving images, audio and
    video (mime derived per row) flows through ONE mapInPandas pass
    that groups each Arrow batch by mime and runs the right
    vectorized extractor per group (operators/multimodal.py
    route_modalities) — one table scan for all modalities instead of
    one job per modality. Extractors are the deterministic fakes
    (codecs absent in this container; decode_media documents the
    plug point); the oracle recomputes every feature characterwise
    from the source text, proving payload integrity through the
    binary path and the router's dispatch correctness.
    """
    d = load_table(spark, sf_dir, "documents")
    mime = (
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
    )
    with_bin = MM.attach_binary(d).withColumn("mime", mime)
    feats = MM.route_modalities(with_bin)
    return (
        feats.groupBy("mime")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("feature").alias("sum_feature"),
        )
        .orderBy("mime")
    )


@register(
    "m_phash_neardup",
    oracle="""
WITH cells AS (
  -- UTF-8 BYTE grid decoded from the hex dump ONCE into a list:
  -- per-index substring re-scans the string (O(n²)/doc — 88 s on a
  -- 200k-char doc, measured); list indexing is O(1)
  SELECT doc_id,
    unnest(vals) AS val,
    unnest(range(1, len(vals) + 1)) AS i,
    ((i - 1) * 16) // len(vals) AS pos
  FROM (SELECT doc_id,
          [16*(instr('0123456789ABCDEF', hc[2*j-1])-1)
             + (instr('0123456789ABCDEF', hc[2*j])-1)
           FOR j IN range(1, len(hc)//2 + 1)] AS vals
        FROM (SELECT doc_id, string_split(hex(encode(text)), '') AS hc
              FROM documents WHERE octet_length(encode(text)) > 0))
),
pooled AS (
  SELECT doc_id, pos, sum(val) // count(*) AS cell
  FROM cells GROUP BY doc_id, pos
),
means AS (
  SELECT doc_id, sum(cell) // 16 AS mu FROM pooled GROUP BY doc_id
),
hashes AS (
  SELECT p.doc_id,
    CAST(sum(CASE WHEN p.cell >= m.mu THEN power(2, p.pos)::BIGINT
             ELSE 0 END) AS BIGINT) AS ahash
  FROM pooled p JOIN means m ON p.doc_id = m.doc_id
  GROUP BY p.doc_id
),
buckets AS (
  SELECT ahash, count(*) AS k FROM hashes GROUP BY ahash
)
SELECT
  CAST(sum(k) AS BIGINT) AS n_docs,
  CAST(count(*) AS BIGINT) AS n_distinct_hashes,
  CAST(coalesce(sum(CASE WHEN k > 1 THEN k END), 0) AS BIGINT)
    AS n_candidate_dups,
  CAST(max(k) AS BIGINT) AS largest_bucket
FROM buckets
""",
    tags=("MM", "J6", "K2"),
)
def m_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection — the image-dedup
    pipeline end-to-end: binary payload → downscale to a 16-cell
    thumbnail (m_resize_pool's Arrow kernel) → average-hash (bit i set
    iff cell i ≥ the thumbnail's own mean — aHash, the classic pHash
    family member) → equal-hash bucketing, where same-bucket payloads
    are visual-dup candidates. The decode is the deterministic stub
    (bytes stand in for pixels — a real JPEG decode drops into
    attach_binary unchanged); everything downstream is exactly the
    production plumbing: integer pooling, integer mean, bit packing,
    one hash-key shuffle for the bucket census. The oracle re-derives
    every cell characterwise."""
    d = load_table(spark, sf_dir, "documents")
    pooled = MM.resize_pool(MM.attach_binary(d), buckets=16)
    means = pooled.groupBy("doc_id").agg(
        F.expr("sum(pooled) div 16").alias("mu")
    )
    hashes = (
        pooled.join(means, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("pooled") >= F.col("mu"),
                    F.expr("cast(pow(2, pos) as bigint)"),
                ).otherwise(0)
            ).alias("ahash")
        )
    )
    buckets = hashes.groupBy("ahash").agg(F.count("*").alias("k"))
    return buckets.agg(
        F.sum("k").alias("n_docs"),
        F.count("*").alias("n_distinct_hashes"),
        F.coalesce(
            F.sum(F.when(F.col("k") > 1, F.col("k"))), F.lit(0)
        ).alias("n_candidate_dups"),
        F.max("k").alias("largest_bucket"),
    )


@register(
    "m_bmp_decode",
    oracle="""
WITH ids AS (SELECT DISTINCT doc_id FROM documents
             WHERE doc_id < 8 AND doc_id IS NOT NULL),
px AS (
  -- the deterministic test card: v(x,y) = (doc_id*7 + y*10 + x) % 254,
  -- channels (v, v+1, v+2) — re-derived arithmetically, never through
  -- the BMP bytes (the decode path is the engine's alone)
  SELECT i.doc_id, y.range AS y, x.range AS x,
    (i.doc_id * 7 + y.range * 10 + x.range) % 254 AS v
  FROM ids i CROSS JOIN range(0, 6) y CROSS JOIN range(0, 10) x
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(10 AS INT) AS width, CAST(6 AS INT) AS height,
  CAST(sum(3 * v + 3) AS BIGINT) AS checksum,
  CAST(sum((1 + x + y * 10) * v) AS BIGINT) AS weighted
FROM px GROUP BY doc_id ORDER BY doc_id
""",
    tags=("MM", "K2"),
)
def m_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode through the codec seam (round-6 item 5): a
    24-bit BMP is ENCODED executor-side per document (stdlib struct —
    bottom-up rows, BGR channels, 4-byte stride padding), carried as an
    opaque binary payload, and DECODED back through the injected
    `image/bmp` codec inside mapInPandas — the first mime whose decode
    runs on actual bytes in this container rather than the
    deterministic-fake path.

    The features prove the parse is bit-faithful: `checksum` (sum of
    all channel bytes) catches content corruption; `weighted`
    (position-weighted red channel, y=0 = top row) catches the three
    classic BMP decode bugs — upside-down rows, BGR/RGB swap, and
    stride miscounts — each of which shifts the weighted sum. The
    oracle re-derives both from the test-card arithmetic, never
    touching the bytes, so engine encode+decode must agree with pure
    math end-to-end. Pixel source is doc_id-only (a 10x6 test card per
    document), so duplicate ids collapse via DISTINCT and NULL ids are
    excluded on both sides."""
    import pandas as pd

    from collections.abc import Iterator

    MM.register_codec("image/bmp", MM.bmp_codec)

    d = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 8) & F.col("doc_id").isNotNull())
        .select("doc_id")
        .distinct()
    )

    width, height = 10, 6

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                pixels = [
                    [
                        (
                            (int(did) * 7 + y * width + x) % 254,
                            (int(did) * 7 + y * width + x) % 254 + 1,
                            (int(did) * 7 + y * width + x) % 254 + 2,
                        )
                        for x in range(width)
                    ]
                    for y in range(height)
                ]
                payloads.append(MM.bmp_encode(pixels))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": ["image/bmp"] * len(pdf),
                    "payload": payloads,
                }
            )

    binary = d.mapInPandas(encode, "doc_id long, mime string, payload binary")

    codecs = MM.registered_codecs()  # definition-time snapshot (seam contract)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, cks, wts = [], [], [], [], []
            for did, mime, b in zip(pdf["doc_id"], pdf["mime"], pdf["payload"]):
                img = codecs[mime](bytes(b))
                ck = wt = 0
                for y, row in enumerate(img.pixels):
                    for x, (r, g, bl) in enumerate(row):
                        ck += r + g + bl
                        wt += (1 + x + y * img.width) * r
                ids.append(did)
                ws.append(img.width)
                hs.append(img.height)
                cks.append(ck)
                wts.append(wt)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "width": ws,
                    "height": hs,
                    "checksum": cks,
                    "weighted": wts,
                }
            )

    return binary.mapInPandas(
        decode,
        "doc_id long, width int, height int, checksum long, weighted long",
    ).orderBy("doc_id")


@register(
    "m_wav_decode",
    oracle="""
WITH ids AS (SELECT DISTINCT doc_id FROM documents
             WHERE doc_id < 8 AND doc_id IS NOT NULL),
s AS (
  -- the deterministic test card: stereo 16-bit PCM, 24 frames,
  --   L[i] = (doc_id*31 + i*7) % 2003 - 1001
  --   R[i] = (doc_id*17 + i*5) % 2003 - 1001
  -- re-derived arithmetically, never through the WAV bytes (the
  -- RIFF walk + de-interleave path is the engine's alone)
  SELECT i.doc_id, t.range AS i,
    ((i.doc_id * 31 + t.range * 7) % 2003) - 1001 AS l,
    ((i.doc_id * 17 + t.range * 5) % 2003) - 1001 AS r
  FROM ids i CROSS JOIN range(0, 24) t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(8000 AS INT) AS sample_rate,
  CAST(2 AS INT) AS n_channels,
  CAST(24 AS INT) AS n_frames,
  CAST(sum(l) AS BIGINT) AS left_sum,
  CAST(sum((i + 1) * r) AS BIGINT) AS right_weighted
FROM s GROUP BY doc_id ORDER BY doc_id
""",
    tags=("MM", "K2"),
)
def m_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode through the codec seam: a stereo 16-bit PCM
    RIFF/WAVE file is ENCODED executor-side per document (stdlib
    struct — interleaved frames, little-endian, plus a planted LIST
    metadata chunk before 'data' so the decoder must genuinely walk
    the chunk list), carried as an opaque binary payload, and DECODED
    back through the injected `audio/wav` codec inside mapInPandas.

    The features prove the parse is bit-faithful: `left_sum` (signed
    sample sum) catches two's-complement/sign errors, and
    `right_weighted` (position-weighted RIGHT channel) catches the
    three classic WAV decode bugs — channel-interleave swaps, byte-
    order mistakes, and data-offset errors from skipping the LIST
    chunk wrong. The oracle re-derives both from the test-card
    arithmetic, never touching the bytes. Pixel source is doc_id-only,
    so duplicate ids collapse via DISTINCT and NULL ids are excluded
    on both sides."""
    import pandas as pd

    from collections.abc import Iterator

    MM.register_codec("audio/wav", MM.wav_codec)

    d = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 8) & F.col("doc_id").isNotNull())
        .select("doc_id")
        .distinct()
    )

    n_frames, sr = 24, 8000

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                left = [
                    ((int(did) * 31 + i * 7) % 2003) - 1001 for i in range(n_frames)
                ]
                right = [
                    ((int(did) * 17 + i * 5) % 2003) - 1001 for i in range(n_frames)
                ]
                payloads.append(MM.wav_encode([left, right], sample_rate=sr))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": ["audio/wav"] * len(pdf),
                    "payload": payloads,
                }
            )

    binary = d.mapInPandas(encode, "doc_id long, mime string, payload binary")

    codecs = MM.registered_codecs()  # definition-time snapshot (seam contract)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, srs, ncs, nfs, lsums, rwts = [], [], [], [], [], []
            for did, mime, b in zip(pdf["doc_id"], pdf["mime"], pdf["payload"]):
                wav = codecs[mime](bytes(b))
                left, right = wav.channels[0], wav.channels[1]
                ids.append(did)
                srs.append(wav.sample_rate)
                ncs.append(wav.n_channels)
                nfs.append(wav.n_frames)
                lsums.append(sum(left))
                rwts.append(sum((i + 1) * v for i, v in enumerate(right)))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "sample_rate": srs,
                    "n_channels": ncs,
                    "n_frames": nfs,
                    "left_sum": lsums,
                    "right_weighted": rwts,
                }
            )

    return binary.mapInPandas(
        decode,
        "doc_id long, sample_rate int, n_channels int, n_frames int,"
        " left_sum long, right_weighted long",
    ).orderBy("doc_id")


@register(
    "m_mixed_codec_decode",
    oracle="""
WITH ids AS (SELECT DISTINCT doc_id FROM documents
             WHERE doc_id < 12 AND doc_id IS NOT NULL),
bmp AS (
  SELECT i.doc_id, 'image/bmp' AS mime, 60 AS units,
    CAST(sum(3 * ((i.doc_id * 7 + y.range * 10 + x.range) % 254) + 3)
      AS BIGINT) AS content_sum
  FROM ids i CROSS JOIN range(0, 6) y CROSS JOIN range(0, 10) x
  WHERE i.doc_id % 2 = 0 GROUP BY i.doc_id
),
wav AS (
  SELECT i.doc_id, 'audio/wav' AS mime, 24 AS units,
    CAST(sum(abs(((i.doc_id * 31 + t.range * 7) % 2003) - 1001)
           + abs(((i.doc_id * 17 + t.range * 5) % 2003) - 1001))
      AS BIGINT) AS content_sum
  FROM ids i CROSS JOIN range(0, 24) t
  WHERE i.doc_id % 2 = 1 GROUP BY i.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, mime, CAST(units AS INT) AS units,
  content_sum
FROM (SELECT * FROM bmp UNION ALL SELECT * FROM wav)
ORDER BY doc_id
""",
    tags=("MM", "K2"),
)
def m_mixed_codec_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-corpus decode — the production multimodal shape:
    ONE binary column carries MIXED mimes (even doc_ids → a real
    24-bit BMP test card, odd → a real stereo PCM WAV), and ONE
    mapInPandas pass dispatches each payload to its registered codec
    (the m_modality_router pattern, but with both REAL decoders from
    this round behind the seam instead of fake features). Features are
    modality-appropriate — pixels vs frames for `units`, channel-byte
    sum vs absolute-sample sum for `content_sum` — and the oracle
    re-derives both arithmetically from the doc_id, never touching the
    bytes. Proves the codec registry handles per-row mime routing in a
    single Arrow batch, the shape a mixed crawl corpus needs."""
    import pandas as pd

    from collections.abc import Iterator

    MM.register_codec("image/bmp", MM.bmp_codec)
    MM.register_codec("audio/wav", MM.wav_codec)

    d = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 12) & F.col("doc_id").isNotNull())
        .select("doc_id")
        .distinct()
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mimes, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 2 == 0:
                    px = [
                        [
                            (
                                (did * 7 + y * 10 + x) % 254,
                                (did * 7 + y * 10 + x) % 254 + 1,
                                (did * 7 + y * 10 + x) % 254 + 2,
                            )
                            for x in range(10)
                        ]
                        for y in range(6)
                    ]
                    mimes.append("image/bmp")
                    payloads.append(MM.bmp_encode(px))
                else:
                    left = [((did * 31 + i * 7) % 2003) - 1001 for i in range(24)]
                    right = [((did * 17 + i * 5) % 2003) - 1001 for i in range(24)]
                    mimes.append("audio/wav")
                    payloads.append(MM.wav_encode([left, right]))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "mime": mimes, "payload": payloads}
            )

    binary = d.mapInPandas(encode, "doc_id long, mime string, payload binary")

    codecs = MM.registered_codecs()  # definition-time snapshot (seam contract)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, mimes, units, sums = [], [], [], []
            for did, mime, b in zip(pdf["doc_id"], pdf["mime"], pdf["payload"]):
                media = codecs[mime](bytes(b))
                if mime == "image/bmp":
                    u = media.width * media.height
                    s = sum(
                        r + g + bl for row in media.pixels for (r, g, bl) in row
                    )
                else:
                    u = media.n_frames
                    s = sum(abs(v) for ch in media.channels for v in ch)
                ids.append(did)
                mimes.append(mime)
                units.append(u)
                sums.append(s)
            yield pd.DataFrame(
                {"doc_id": ids, "mime": mimes, "units": units, "content_sum": sums}
            )

    return binary.mapInPandas(
        decode, "doc_id long, mime string, units int, content_sum long"
    ).orderBy("doc_id")


@register(
    "m_pgm_decode",
    oracle="""
WITH ids AS (SELECT DISTINCT doc_id FROM documents
             WHERE doc_id < 8 AND doc_id IS NOT NULL),
px AS (
  -- the deterministic test card: v(x,y) = (doc_id*13 + y*9 + x*2)
  -- modulo the per-doc maxval (255 for odd ids, 4001 for even ids —
  -- even docs exercise the 2-byte big-endian raster); re-derived
  -- arithmetically, never through the PGM bytes
  SELECT i.doc_id, y.range AS y, x.range AS x,
    (i.doc_id * 13 + y.range * 9 + x.range * 2)
      % (CASE WHEN i.doc_id % 2 = 0 THEN 4001 ELSE 255 END) AS v
  FROM ids i CROSS JOIN range(0, 5) y CROSS JOIN range(0, 9) x
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(9 AS INT) AS width, CAST(5 AS INT) AS height,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 4000 ELSE 254 END AS INT) AS maxval,
  CAST(sum(v) AS BIGINT) AS checksum,
  CAST(sum((1 + x + y * 9) * v) AS BIGINT) AS weighted
FROM px GROUP BY doc_id ORDER BY doc_id
""",
    tags=("MM", "K2"),
)
def m_pgm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL grayscale-image decode through the codec seam — the third
    mime (after image/bmp, audio/wav) whose decode runs on actual
    bytes in this container. Each document's 9x5 test card is ENCODED
    executor-side as a binary PGM (P5) with a planted `#` comment in
    the header (real netpbm tools emit them; decoders that assume a
    fixed header layout break), EVEN doc_ids use maxval 4000 so their
    raster is 2-byte big-endian (the netpbm wide-sample rule), and the
    payloads are DECODED back through the injected codec inside
    mapInPandas.

    `checksum` (sample sum) catches content corruption; `weighted`
    (position-weighted) catches row-order and stride errors;
    `maxval` proves the 1-byte/2-byte raster switch round-trips. The
    oracle re-derives everything from the test-card arithmetic, never
    touching the bytes."""
    import pandas as pd

    from collections.abc import Iterator

    MM.register_codec("image/x-portable-graymap", MM.pgm_codec)

    d = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 8) & F.col("doc_id").isNotNull())
        .select("doc_id")
        .distinct()
    )

    width, height = 9, 5

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                maxval = 4000 if did % 2 == 0 else 254
                pixels = [
                    [
                        (did * 13 + y * 9 + x * 2) % (maxval + 1)
                        for x in range(width)
                    ]
                    for y in range(height)
                ]
                payloads.append(MM.pgm_encode(pixels, maxval=maxval))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": ["image/x-portable-graymap"] * len(pdf),
                    "payload": payloads,
                }
            )

    binary = d.mapInPandas(encode, "doc_id long, mime string, payload binary")

    codecs = MM.registered_codecs()  # definition-time snapshot (seam contract)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, mvs, cks, wts = [], [], [], [], [], []
            for did, mime, b in zip(pdf["doc_id"], pdf["mime"], pdf["payload"]):
                img = codecs[mime](bytes(b))
                ck = wt = 0
                for y, row in enumerate(img.pixels):
                    for x, v in enumerate(row):
                        ck += v
                        wt += (1 + x + y * img.width) * v
                ids.append(did)
                ws.append(img.width)
                hs.append(img.height)
                mvs.append(img.maxval)
                cks.append(ck)
                wts.append(wt)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "width": ws,
                    "height": hs,
                    "maxval": mvs,
                    "checksum": cks,
                    "weighted": wts,
                }
            )

    out = binary.mapInPandas(
        decode,
        "doc_id long, width int, height int, maxval int, "
        "checksum long, weighted long",
    )
    return out.orderBy("doc_id")


@register(
    "m_corrupt_quarantine",
    oracle="""
WITH ids AS (SELECT DISTINCT doc_id FROM documents
             WHERE doc_id < 48 AND doc_id IS NOT NULL),
verdict AS (
  -- corruption schedule is doc_id arithmetic: %4==0 valid, 1 truncated
  -- tail, 2 flipped magic, 3 oversized declared size; mime cycles by
  -- %3. Valid features: bmp 10x4=40 px, wav 12 frames, pgm 6x5=30 px.
  SELECT doc_id,
    CASE doc_id % 3 WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'audio/wav'
                    ELSE 'image/x-portable-graymap' END AS mime,
    doc_id % 4 = 0 AS ok,
    CASE doc_id % 3 WHEN 0 THEN 40 WHEN 1 THEN 12 ELSE 30 END AS feat
  FROM ids
)
SELECT mime,
  CAST(count(*) AS BIGINT) AS n_payloads,
  CAST(count(*) FILTER (WHERE ok) AS BIGINT) AS n_ok,
  CAST(count(*) FILTER (WHERE NOT ok) AS BIGINT) AS n_quarantined,
  CAST(sum(CASE WHEN ok THEN feat ELSE 0 END) AS BIGINT) AS feat_sum
FROM verdict GROUP BY mime ORDER BY mime
""",
    tags=("MM", "K2", "B5"),
)
def m_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupted-payload QUARANTINE decode — the production-tolerant
    twin of the strict seam (which refuses loudly and kills the task;
    see tests/test_pgm_codec_r7.py for that contract): at 100 TB a
    handful of truncated uploads must be COUNTED and routed aside, not
    abort a 1000-executor job. Three mimes cycle across documents;
    three quarter-populations are deliberately corrupted executor-side
    in three distinct ways — truncated tail, flipped magic bytes, and
    an oversized declared size (data chunk / raster larger than the
    remaining payload, the silent-shrink bait both wav_codec and
    pgm_codec now refuse) — then decoded through the SAME injected
    codecs with a per-payload try/except that tallies refusals per
    mime. Every corruption class must be caught as the codecs' typed
    ValueError — nothing decodes 'partially'. The oracle re-derives
    the verdict census from doc_id arithmetic alone."""
    import struct

    import pandas as pd

    from collections.abc import Iterator

    MM.register_codec("image/bmp", MM.bmp_codec)
    MM.register_codec("audio/wav", MM.wav_codec)
    MM.register_codec("image/x-portable-graymap", MM.pgm_codec)

    d = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 48) & F.col("doc_id").isNotNull())
        .select("doc_id")
        .distinct()
    )

    def make_payload(did: int) -> tuple[str, bytes]:
        kind = did % 3
        if kind == 0:
            mime = "image/bmp"
            raw = MM.bmp_encode(
                [[(did % 200, x % 200, y % 200) for x in range(10)] for y in range(4)]
            )
        elif kind == 1:
            mime = "audio/wav"
            raw = MM.wav_encode([[((did * 7 + i) % 400) - 200 for i in range(12)]])
        else:
            mime = "image/x-portable-graymap"
            raw = MM.pgm_encode(
                [[(did * 3 + y * 6 + x) % 250 for x in range(6)] for y in range(5)]
            )
        c = did % 4
        if c == 1:  # truncated tail
            raw = raw[: max(8, len(raw) - 11)]
        elif c == 2:  # flipped magic
            raw = b"XX" + raw[2:]
        elif c == 3:  # oversized declared size
            b = bytearray(raw)
            if kind == 0:
                struct.pack_into("<i", b, 22, 1 << 20)  # height field
            elif kind == 1:
                at = raw.index(b"data") + 4
                struct.pack_into("<I", b, at, 1 << 20)
            else:
                # blow up the declared height token (ASCII header)
                b = bytearray(raw.replace(b" 5\n", b" 50000\n", 1))
            raw = bytes(b)
        return mime, raw

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mimes, payloads = [], []
            for did in pdf["doc_id"]:
                mime, raw = make_payload(int(did))
                mimes.append(mime)
                payloads.append(raw)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "mime": mimes, "payload": payloads}
            )

    binary = d.mapInPandas(encode, "doc_id long, mime string, payload binary")

    codecs = MM.registered_codecs()  # definition-time snapshot

    def decode_tolerant(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mimes, oks, feats = [], [], []
            for mime, b in zip(pdf["mime"], pdf["payload"]):
                try:
                    obj = codecs[mime](bytes(b))
                    mimes.append(mime)
                    oks.append(True)
                    feats.append(len(obj))
                except ValueError:
                    # the codecs' typed refusal — quarantined, counted
                    mimes.append(mime)
                    oks.append(False)
                    feats.append(0)
            yield pd.DataFrame({"mime": mimes, "ok": oks, "feature": feats})

    decoded = binary.mapInPandas(
        decode_tolerant, "mime string, ok boolean, feature long"
    )
    return (
        decoded.groupBy("mime")
        .agg(
            F.count("*").alias("n_payloads"),
            F.count(F.when(F.col("ok"), 1)).alias("n_ok"),
            F.count(F.when(~F.col("ok"), 1)).alias("n_quarantined"),
            F.sum(F.when(F.col("ok"), F.col("feature")).otherwise(0)).alias(
                "feat_sum"
            ),
        )
        .orderBy("mime")
    )


@register(
    "m_ppm_decode",
    oracle="""
WITH ids AS (SELECT DISTINCT doc_id FROM documents
             WHERE doc_id < 8 AND doc_id IS NOT NULL),
px AS (
  -- the deterministic RGB test card: r = (doc_id*7 + y*11 + x*3),
  -- g = r + 1, b = r + 2, each modulo (maxval + 1); maxval 255 for
  -- odd ids, 1000 for even ids (2-byte big-endian raster). Re-derived
  -- arithmetically, never through the PPM bytes.
  SELECT i.doc_id, y.range AS y, x.range AS x,
    (i.doc_id * 7 + y.range * 11 + x.range * 3)
      % (CASE WHEN i.doc_id % 2 = 0 THEN 1001 ELSE 256 END) AS r,
    (i.doc_id * 7 + y.range * 11 + x.range * 3 + 1)
      % (CASE WHEN i.doc_id % 2 = 0 THEN 1001 ELSE 256 END) AS g,
    (i.doc_id * 7 + y.range * 11 + x.range * 3 + 2)
      % (CASE WHEN i.doc_id % 2 = 0 THEN 1001 ELSE 256 END) AS b
  FROM ids i CROSS JOIN range(0, 4) y CROSS JOIN range(0, 7) x
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(7 AS INT) AS width, CAST(4 AS INT) AS height,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 1000 ELSE 255 END AS INT) AS maxval,
  -- channel-weighted checksum (r + 2g + 3b): a BGR/ RGB swap or a
  -- channel-stride bug changes it; a plain sum would not notice
  CAST(sum(r + 2 * g + 3 * b) AS BIGINT) AS chan_weighted,
  -- position-weighted: catches row-order and pixel-stride errors
  CAST(sum((1 + x + y * 7) * (r + g + b)) AS BIGINT) AS pos_weighted
FROM px GROUP BY doc_id ORDER BY doc_id
""",
    tags=("MM", "K2"),
)
def m_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL color-image decode through the codec seam — the FOURTH
    mime whose decode runs on actual bytes in this container, and the
    first with interleaved multi-sample pixels: 3 samples per pixel
    means a stride bug PGM's single channel cannot expose (reading
    W*H samples instead of 3*W*H, or de-interleaving BGR) corrupts
    `chan_weighted` here. Each document's 7x4 RGB test card is
    ENCODED executor-side as binary PPM (P6) with a planted header
    comment; EVEN doc_ids use maxval 1000, so their raster is 2-byte
    big-endian per sample; payloads are DECODED back through the
    injected codec inside mapInPandas. The oracle re-derives both
    weighted checksums from the test-card arithmetic, never touching
    the bytes."""
    import pandas as pd

    from collections.abc import Iterator

    MM.register_codec("image/x-portable-pixmap", MM.ppm_codec)

    d = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 8) & F.col("doc_id").isNotNull())
        .select("doc_id")
        .distinct()
    )

    width, height = 7, 4

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                maxval = 1000 if did % 2 == 0 else 255
                pixels = [
                    [
                        tuple(
                            (did * 7 + y * 11 + x * 3 + c) % (maxval + 1)
                            for c in range(3)
                        )
                        for x in range(width)
                    ]
                    for y in range(height)
                ]
                payloads.append(MM.ppm_encode(pixels, maxval=maxval))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": ["image/x-portable-pixmap"] * len(pdf),
                    "payload": payloads,
                }
            )

    binary = d.mapInPandas(encode, "doc_id long, mime string, payload binary")

    codecs = MM.registered_codecs()  # definition-time snapshot (seam contract)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, mvs, cws, pws = [], [], [], [], [], []
            for did, mime, b in zip(pdf["doc_id"], pdf["mime"], pdf["payload"]):
                img = codecs[mime](bytes(b))
                cw = pw = 0
                for y, row in enumerate(img.pixels):
                    for x, (r, g, bl) in enumerate(row):
                        cw += r + 2 * g + 3 * bl
                        pw += (1 + x + y * img.width) * (r + g + bl)
                ids.append(did)
                ws.append(img.width)
                hs.append(img.height)
                mvs.append(img.maxval)
                cws.append(cw)
                pws.append(pw)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "width": ws,
                    "height": hs,
                    "maxval": mvs,
                    "chan_weighted": cws,
                    "pos_weighted": pws,
                }
            )

    out = binary.mapInPandas(
        decode,
        "doc_id long, width int, height int, maxval int, "
        "chan_weighted long, pos_weighted long",
    )
    return out.orderBy("doc_id")


@register(
    "m_quarantine_boundaries",
    oracle="""
WITH ids AS (SELECT DISTINCT doc_id FROM documents
             WHERE doc_id < 48 AND doc_id IS NOT NULL),
verdict AS (
  -- schedule is doc_id arithmetic: mime cycles by %4, corruption by
  -- %3 (0 valid, 1 field-boundary truncation inside a valid prefix,
  -- 2 declared-size overflow near an int boundary). Valid features:
  -- bmp 8x3=24 px, wav 10 frames, pgm 5x4=20 px, ppm 6x2=12 px.
  SELECT doc_id,
    CASE doc_id % 4 WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'audio/wav'
         WHEN 2 THEN 'image/x-portable-graymap'
         ELSE 'image/x-portable-pixmap' END AS mime,
    doc_id % 3 = 0 AS ok,
    CASE doc_id % 4 WHEN 0 THEN 24 WHEN 1 THEN 10
         WHEN 2 THEN 20 ELSE 12 END AS feat
  FROM ids
)
SELECT mime,
  CAST(count(*) AS BIGINT) AS n_payloads,
  CAST(count(*) FILTER (WHERE ok) AS BIGINT) AS n_ok,
  CAST(count(*) FILTER (WHERE NOT ok) AS BIGINT) AS n_quarantined,
  CAST(sum(CASE WHEN ok THEN feat ELSE 0 END) AS BIGINT) AS feat_sum
FROM verdict GROUP BY mime ORDER BY mime
""",
    tags=("MM", "K2", "B5"),
)
def m_quarantine_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-corruption quarantine — round 8's two NEW corruption
    classes, applied across all FOUR real codecs:

    - **field-boundary truncation inside a valid prefix**: the payload
      ends mid-header-field (BMP cut at byte 30 of the 54-byte header;
      WAV fmt chunk declaring size 8, cut after it; PGM/PPM cut inside
      a header token). Round 7's tail truncation always cut inside the
      raster; cutting inside a FIELD is the class where a missing
      length guard surfaces as struct.error instead of the typed
      ValueError and ESCAPES the quarantine, killing the task — the
      exact wav-fmt ADVICE bug, which this entry's sweep also flushed
      (and fixed) in bmp_codec's header reads.
    - **declared-size overflow near int boundaries**: headers forged
      to declare 65535x65535 rasters (PGM/PPM ~12.8 GB), a WAV data
      chunk of 0xFFFFFFFE bytes, a BMP height of 2^30 — the codec must
      refuse on ARITHMETIC (declared > remaining), never attempt the
      allocation; a tolerant pipeline that 'clamps' would silently
      shrink the media instead of quarantining it.

    Same tolerant-decode shape as m_corrupt_quarantine: per-payload
    try/except ValueError inside mapInPandas, refusals counted per
    mime, nothing decodes partially. Oracle re-derives the census from
    doc_id arithmetic alone."""
    import struct

    import pandas as pd

    from collections.abc import Iterator

    MM.register_codec("image/bmp", MM.bmp_codec)
    MM.register_codec("audio/wav", MM.wav_codec)
    MM.register_codec("image/x-portable-graymap", MM.pgm_codec)
    MM.register_codec("image/x-portable-pixmap", MM.ppm_codec)

    d = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 48) & F.col("doc_id").isNotNull())
        .select("doc_id")
        .distinct()
    )

    def make_payload(did: int) -> tuple[str, bytes]:
        kind = did % 4
        if kind == 0:
            mime = "image/bmp"
            raw = MM.bmp_encode(
                [[(did % 200, x % 200, y % 200) for x in range(8)] for y in range(3)]
            )
        elif kind == 1:
            mime = "audio/wav"
            raw = MM.wav_encode([[((did * 5 + i) % 300) - 150 for i in range(10)]])
        elif kind == 2:
            mime = "image/x-portable-graymap"
            raw = MM.pgm_encode(
                [[(did * 3 + y * 5 + x) % 250 for x in range(5)] for y in range(4)]
            )
        else:
            mime = "image/x-portable-pixmap"
            raw = MM.ppm_encode(
                [
                    [((did + x) % 250, (did + y) % 250, (x + y) % 250) for x in range(6)]
                    for y in range(2)
                ]
            )
        c = did % 3
        if c == 1:  # field-boundary truncation inside a valid prefix
            if kind == 0:
                raw = raw[:30]  # inside the BITMAPINFOHEADER
            elif kind == 1:
                # rebuild: RIFF/WAVE + an 8-byte-declared fmt chunk as
                # the LAST chunk — valid chunk framing, impossible PCM
                # fmt (the ADVICE escape shape)
                body = b"WAVE" + b"fmt " + struct.pack("<I", 8) + b"\x01\x00\x02\x00\x44\xac\x00\x00"
                raw = b"RIFF" + struct.pack("<I", len(body)) + body
            else:
                # cut inside the header's dimension token
                sp = raw.index(b"\n", 3)  # end of magic/comment line
                raw = raw[: sp + 2]
        elif c == 2:  # declared-size overflow near an int boundary
            b = bytearray(raw)
            if kind == 0:
                struct.pack_into("<i", b, 22, 1 << 30)  # height field
            elif kind == 1:
                at = raw.index(b"data") + 4
                struct.pack_into("<I", b, at, 0xFFFFFFFE)
            elif kind == 2:
                b = bytearray(raw.replace(b"5 4\n", b"65535 65535\n", 1))
            else:
                b = bytearray(raw.replace(b"6 2\n", b"65535 65535\n", 1))
            raw = bytes(b)
        return mime, raw

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mimes, payloads = [], []
            for did in pdf["doc_id"]:
                mime, raw = make_payload(int(did))
                mimes.append(mime)
                payloads.append(raw)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "mime": mimes, "payload": payloads}
            )

    binary = d.mapInPandas(encode, "doc_id long, mime string, payload binary")

    codecs = MM.registered_codecs()  # definition-time snapshot

    def decode_tolerant(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mimes, oks, feats = [], [], []
            for mime, b in zip(pdf["mime"], pdf["payload"]):
                try:
                    obj = codecs[mime](bytes(b))
                    mimes.append(mime)
                    oks.append(True)
                    feats.append(len(obj))
                except ValueError:
                    mimes.append(mime)
                    oks.append(False)
                    feats.append(0)
            yield pd.DataFrame({"mime": mimes, "ok": oks, "feature": feats})

    decoded = binary.mapInPandas(
        decode_tolerant, "mime string, ok boolean, feature long"
    )
    return (
        decoded.groupBy("mime")
        .agg(
            F.count("*").alias("n_payloads"),
            F.count(F.when(F.col("ok"), 1)).alias("n_ok"),
            F.count(F.when(~F.col("ok"), 1)).alias("n_quarantined"),
            F.sum(F.when(F.col("ok"), F.col("feature")).otherwise(0)).alias(
                "feat_sum"
            ),
        )
        .orderBy("mime")
    )
