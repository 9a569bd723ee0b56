"""Multimodal (binary media) queries.

Split out of the monolithic harness.py (registration order preserved
within each family; see harness/__init__.py for the module order).
"""
from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from whatsapp_vectordb_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    euclidean_distance,
    l2_norm,
)
from whatsapp_vectordb_spark.operators.search import topk, topk_batched

from whatsapp_vectordb_spark.harness._core import _oracle_scratch, _register, _t  # noqa: E501



# ==========================================================================
# Multimodal columns (multimodal.py): binary content + typed metadata,
# decode/feature-extract via mapInPandas (deterministic fake codec), frame
# sampling as a pure Catalyst sequence-explode. Media rows are synthesized
# from `documents` identically in both engines.
# ==========================================================================


def _media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        (F.lit(500) + (F.col("doc_id") % 7) * 777).cast("long").alias("duration_ms"),
        (F.lit(320) + (F.col("doc_id") % 5) * 160).cast("int").alias("width"),
        (F.lit(240) + (F.col("doc_id") % 3) * 120).cast("int").alias("height"),
    )


@_register(
    "multimodal_features",
    """
SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS content_sha,
       CAST(64 AS INTEGER) AS dim
FROM documents
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.multimodal import extract_media_features

    feats = extract_media_features(_media_df(spark, sf_dir), dim=64)
    return feats.select(
        "media_id", "modality", "n_bytes", "content_sha", F.size("embedding").alias("dim")
    )


@_register(
    "multimodal_frame_sample",
    """
SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
       unnest(range(0, 500 + (doc_id % 7) * 777, 1000)) AS frame_ts_ms
FROM documents WHERE doc_id % 3 = 2
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.multimodal import frame_sample_plan

    return frame_sample_plan(_media_df(spark, sf_dir), every_ms=1000)


# Round 6: the REAL decode path under the correctness gate. Each doc gets
# a genuine binary P5 (netpbm) image whose pixel (x, y) is the exact
# integer (doc_id*7 + x*3 + y*5) % 256; Spark decodes the actual bytes
# with the pure-numpy netpbm decoder (multimodal._parse_netpbm) and
# reports integer pixel statistics, which the oracle derives in closed
# form — if the decoder misread the header, stride, or payload, every
# integer breaks. Dims: 64×4 grayscale.
_PPM_W, _PPM_H = 64, 4


@_register(
    "multimodal_real_decode",
    f"""
SELECT d.doc_id,
       CAST({_PPM_W * _PPM_H} AS BIGINT) AS n_px,
       CAST(SUM((d.doc_id * 7 + x.x * 3 + y.y * 5) % 256) AS BIGINT) AS px_sum,
       CAST(MIN((d.doc_id * 7 + x.x * 3 + y.y * 5) % 256) AS BIGINT) AS px_min,
       CAST(MAX((d.doc_id * 7 + x.x * 3 + y.y * 5) % 256) AS BIGINT) AS px_max
FROM documents d
CROSS JOIN range(0, {_PPM_W}) x(x)
CROSS JOIN range(0, {_PPM_H}) y(y)
GROUP BY d.doc_id
""",
)
def multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-exact round trip through the pluggable decode seam: synthesize
    real P5 bytes per doc (mapInPandas, executor-side — bytes never touch
    the driver), decode them with ``_parse_netpbm``, emit integer pixel
    stats. Map-only end to end; the only shuffle is none."""
    import numpy as _np
    import pandas as _pd

    from whatsapp_vectordb_spark.multimodal import (
        MEDIA_SCHEMA,
        _parse_netpbm,
        extract_media_features,
    )

    w, h = _PPM_W, _PPM_H
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        header = f"P5\n{w} {h}\n255\n".encode()
        xs = _np.arange(w)[None, :] * 3 + _np.arange(h)[:, None] * 5
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            content = [
                header + ((int(i) * 7 + xs) % 256).astype(_np.uint8).tobytes()
                for i in ids
            ]
            yield _pd.DataFrame(
                {
                    "media_id": [str(i) for i in ids],
                    "modality": "image",
                    "content": content,
                    "mime": "image/x-portable-graymap",
                    "width": w,
                    "height": h,
                    "duration_ms": None,
                }
            )

    media = docs.mapInPandas(gen, MEDIA_SCHEMA)

    def pixel_stats(b: bytes | None):
        if b is None:
            return None
        px = _np.rint(_parse_netpbm(b) * 255.0)
        return [float(px.size), float(px.sum()), float(px.min()), float(px.max())]

    feats = extract_media_features(media, decoder=pixel_stats)
    e = F.col("embedding")
    return feats.select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        e[0].cast("bigint").alias("n_px"),
        e[1].cast("bigint").alias("px_sum"),
        e[2].cast("bigint").alias("px_min"),
        e[3].cast("bigint").alias("px_max"),
    )


@_register(
    "multimodal_audio_chunks",
    """
WITH chunks AS (
  SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
         500 + (doc_id % 7) * 777 AS duration_ms,
         unnest(range(0, 500 + (doc_id % 7) * 777, 2000)) AS chunk_start_ms
  FROM documents WHERE doc_id % 3 = 1
)
SELECT media_id, chunk_start_ms,
       LEAST(chunk_start_ms + 2000, duration_ms) AS chunk_end_ms
FROM chunks
""",
)
def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.multimodal import chunk_media_plan

    return chunk_media_plan(_media_df(spark, sf_dir), chunk_ms=2000, modality="audio")


_XMODAL_DIR = _oracle_scratch("xmodal_oracle")
_XMODAL_QUERY = "large scale data processing"


def _xmodal_oracle() -> str:
    """Neither the text embedder nor the fake-codec extractor is
    SQL-expressible, but both are deterministic — so (a) the query vector
    is computed at registration time and inlined as a literal (the
    ``_flagship_oracle`` template), and (b) the unioned cross-modal index
    is persisted by the Spark query and replayed by the oracle from the
    very same parquet (the IVF persisted-state template, harness
    ``_ANN_IVF_ORACLE``). The union + scoring + top-k — the cross-modal
    part — is then fully hash-checked."""
    from whatsapp_vectordb_spark.embedder import embed_text

    qv = embed_text(_XMODAL_QUERY, dim=64)
    lit = "[" + ", ".join(repr(float(x)) for x in qv) + "]"
    return f"""
WITH idx AS (
  SELECT * FROM read_parquet('{_XMODAL_DIR}/index/*.parquet')
),
q AS (SELECT {lit}::DOUBLE[] AS qv)
SELECT i.item_id, i.modality,
       ROUND(list_cosine_similarity(i.embedding::DOUBLE[], q.qv), 6) AS score
FROM idx i CROSS JOIN q
WHERE list_cosine_similarity(i.embedding::DOUBLE[], q.qv) IS NOT NULL
ORDER BY score DESC, i.item_id ASC
LIMIT 25
"""


@_register("multimodal_cross_search", _xmodal_oracle())
def multimodal_cross_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union scoring across modalities (SURVEY.md §7.2 step 5): text docs
    and media rows share one embedding space/table shape; a single top-k
    ranks both. Text side embeds with the deterministic embedder, media
    side with the fake-codec extractor — same dim, one unioned index.
    The index is persisted and the top-k probes the PERSISTED parquet, so
    the oracle replays the identical float32 data (see _xmodal_oracle)."""
    from whatsapp_vectordb_spark.embedder import embed_text, with_embedding
    from whatsapp_vectordb_spark.multimodal import extract_media_features
    from whatsapp_vectordb_spark.operators.search import topk

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 2 == 0)
    text_side = with_embedding(docs, "text", "embedding").select(
        F.concat(F.lit("text:"), F.col("doc_id").cast("string")).alias("item_id"),
        F.lit("text").alias("modality"),
        "embedding",
    )
    media_side = extract_media_features(_media_df(spark, sf_dir), dim=64).select(
        F.concat(F.lit("media:"), F.col("media_id")).alias("item_id"),
        "modality",
        "embedding",
    )
    index_path = os.path.join(_XMODAL_DIR, "index")
    text_side.unionByName(media_side).write.mode("overwrite").parquet(index_path)
    index = spark.read.parquet(index_path)
    qvec = embed_text(_XMODAL_QUERY, dim=64)
    return topk(index, qvec, k=25, id_col="item_id", payload_cols=("modality",), round_to=6)


@_register(
    "multimodal_resize_dims",
    """
WITH imgs AS (
  SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
         CAST(320 + (doc_id % 5) * 160 AS INTEGER) AS width,
         CAST(240 + (doc_id % 3) * 120 AS INTEGER) AS height
  FROM documents WHERE doc_id % 3 = 0
)
SELECT media_id, width, height,
       CAST(round(width * LEAST(1.0, 512.0 / GREATEST(width, height))) AS INTEGER) AS target_w,
       CAST(round(height * LEAST(1.0, 512.0 / GREATEST(width, height))) AS INTEGER) AS target_h
FROM imgs
""",
)
def multimodal_resize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.multimodal import resize_dims_plan

    return resize_dims_plan(_media_df(spark, sf_dir), max_side=512)


# ==========================================================================
# Round 4: chunk-level media search — per-chunk embeddings (fake codec),
# media ranked by BEST chunk (max-pool), persisted-state oracle.
# ==========================================================================

_CHUNK_DIR = _oracle_scratch("chunk_search_oracle")
_CHUNK_QUERY = "stream batch processing"


def _chunk_oracle() -> str:
    from whatsapp_vectordb_spark.embedder import embed_text

    qv = embed_text(_CHUNK_QUERY, dim=64)
    lit = "[" + ", ".join(repr(float(x)) for x in qv) + "]"
    return f"""
WITH idx AS (
  SELECT * FROM read_parquet('{_CHUNK_DIR}/index/*.parquet')
),
q AS (SELECT {lit}::DOUBLE[] AS qv),
sc AS (
  SELECT i.media_id, i.chunk_start_ms,
         ROUND(list_cosine_similarity(i.embedding::DOUBLE[], q.qv), 6) AS score
  FROM idx i CROSS JOIN q
  WHERE list_cosine_similarity(i.embedding::DOUBLE[], q.qv) IS NOT NULL
),
best AS (
  SELECT media_id, chunk_start_ms, score,
         row_number() OVER (
           PARTITION BY media_id ORDER BY score DESC, chunk_start_ms ASC
         ) AS rk
  FROM sc
)
SELECT media_id, chunk_start_ms AS best_chunk_start_ms, score
FROM best WHERE rk = 1
ORDER BY score DESC, media_id ASC
LIMIT 10
"""


@_register("multimodal_chunk_search", _chunk_oracle())
def multimodal_chunk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granular media retrieval: every 2-second audio chunk gets its
    own embedding; media rank by their BEST chunk (max-pooling), so a
    short match inside a long item still surfaces it. The chunk index is
    persisted and both engines score the identical float32 parquet
    (the persisted-state oracle template)."""
    from whatsapp_vectordb_spark.embedder import embed_text
    from whatsapp_vectordb_spark.functions.vector import array_lit, cosine_similarity
    from whatsapp_vectordb_spark.multimodal import extract_chunk_features

    chunks = extract_chunk_features(
        _media_df(spark, sf_dir), chunk_ms=2000, dim=64, modality="audio"
    )
    index_path = os.path.join(_CHUNK_DIR, "index")
    chunks.select("media_id", "chunk_start_ms", "embedding").write.mode(
        "overwrite"
    ).parquet(index_path)
    idx = spark.read.parquet(index_path)
    qvec = embed_text(_CHUNK_QUERY, dim=64)
    qcol = array_lit(qvec, "double")
    sc = idx.select(
        "media_id",
        "chunk_start_ms",
        F.round(cosine_similarity(F.col("embedding"), qcol), 6).alias("score"),
    ).where(F.col("score").isNotNull())
    w = Window.partitionBy("media_id").orderBy(
        F.col("score").desc(), F.col("chunk_start_ms").asc()
    )
    best = (
        sc.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("media_id", F.col("chunk_start_ms").alias("best_chunk_start_ms"), "score")
    )
    return best.orderBy(F.col("score").desc(), F.col("media_id").asc()).limit(10)


# ==========================================================================
# Round 5 (batch 6): shot-boundary detection over persisted chunk features,
# and cap-constrained water-filling epoch allocation (data-constrained
# scaling) — both integer/rounded-exact across engines.
# ==========================================================================

_SCENE_DIR = _oracle_scratch("scene_cuts_oracle")
_SCENE_THRESHOLD = 0.1


@_register(
    "multimodal_scene_cuts",
    f"""
WITH idx AS (
  SELECT media_id, chunk_start_ms, embedding::DOUBLE[] AS e
  FROM read_parquet('{_SCENE_DIR}/chunks/*.parquet')
),
s AS (
  SELECT media_id, chunk_start_ms,
         ROUND(list_cosine_similarity(
             e, LAG(e) OVER (PARTITION BY media_id ORDER BY chunk_start_ms)), 6) AS sim
  FROM idx
)
SELECT media_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN sim < {_SCENE_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
       CAST(SUM(CASE WHEN sim < {_SCENE_THRESHOLD} THEN chunk_start_ms ELSE 0 END)
            AS BIGINT) AS cut_ms_checksum
FROM s GROUP BY media_id
""",
)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-based shot detection: 500 ms video chunks → per-chunk
    features (stubbed codec, real Spark plumbing) → a cut wherever
    consecutive-chunk cosine drops below 0.1 (multimodal.py
    scene_cut_stats). Both engines score the identical persisted float32
    chunk index; similarity rounds before the threshold compare."""
    from whatsapp_vectordb_spark.multimodal import extract_chunk_features, scene_cut_stats

    chunks = extract_chunk_features(
        _media_df(spark, sf_dir), chunk_ms=500, dim=64, modality="video"
    )
    path = os.path.join(_SCENE_DIR, "chunks")
    chunks.select("media_id", "chunk_start_ms", "embedding").write.mode(
        "overwrite"
    ).parquet(path)
    return scene_cut_stats(spark.read.parquet(path), threshold=_SCENE_THRESHOLD)


_PHASH_DIR = _oracle_scratch("phash_near_dup_oracle")


@_register(
    "multimodal_phash_near_dup",
    f"""
WITH f AS (
  SELECT media_id, embedding
  FROM read_parquet('{_PHASH_DIR}/features/*.parquet')
),
sigs AS (
  SELECT media_id,
         CAST(SUM(CASE WHEN i.i < 32 AND embedding[i.i + 1] > 0
                       THEN (1::BIGINT << i.i) ELSE 0 END) AS BIGINT) AS lo,
         CAST(SUM(CASE WHEN i.i >= 32 AND embedding[i.i + 1] > 0
                       THEN (1::BIGINT << (i.i - 32)) ELSE 0 END) AS BIGINT) AS hi
  FROM f CROSS JOIN range(0, 64) i(i)
  GROUP BY 1
),
banded AS (
  SELECT media_id, lo, hi, b.b AS band,
         CASE WHEN b.b < 2 THEN (lo >> (16 * b.b)) & 65535
              ELSE (hi >> (16 * (b.b - 2))) & 65535 END AS bval
  FROM sigs CROSS JOIN range(0, 4) b(b)
),
cand AS (
  SELECT DISTINCT a.media_id AS id_a, x.media_id AS id_b,
                  a.lo AS la, a.hi AS ha, x.lo AS lb, x.hi AS hb
  FROM banded a
  JOIN banded x ON a.band = x.band AND a.bval = x.bval AND a.media_id < x.media_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) <= 3
""",
)
def multimodal_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media near-dup dedup, pHash style: persisted 64-d media features →
    sign-bit signatures → 4×16-bit band candidates → Hamming ≤ 3 verify
    (operators/dedup.py binary_near_dup_pairs). Banding recall is exact
    by pigeonhole (3 < 4 bands); both engines read the identical
    persisted float32 features."""
    from whatsapp_vectordb_spark.multimodal import extract_media_features
    from whatsapp_vectordb_spark.operators.dedup import binary_near_dup_pairs

    feats = (
        extract_media_features(_media_df(spark, sf_dir), dim=64)
        .where(F.col("embedding").isNotNull())
        .select("media_id", "embedding")
    )
    # the synthetic corpus has no byte-identical assets, so near-dup pairs
    # would be vacuously empty; add a deterministic "re-encode" variant of
    # every 25th asset (two feature coordinates sign-flipped → Hamming ≤ 2)
    # so the detector demonstrably FINDS the planted near-dups
    variants = feats.where(
        F.regexp_extract("media_id", r"^m(\d+)$", 1).cast("long") % 25 == 0
    ).select(
        F.concat(F.col("media_id"), F.lit("_v2")).alias("media_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i < 2, -x).otherwise(x)
        ).alias("embedding"),
    )
    path = os.path.join(_PHASH_DIR, "features")
    feats.unionByName(variants).write.mode("overwrite").parquet(path)
    return binary_near_dup_pairs(
        spark.read.parquet(path), id_col="media_id", dim=64
    )


# Round 7: decoder → pHash → banded near-dup in ONE plan (VERDICT r6 #4).
# multimodal_real_decode proved the netpbm decoder; multimodal_phash_near_dup
# proved the banded Hamming join on synthesized features. This composes them:
# REAL P5 bytes (base image per doc + a perturbed re-encode variant for every
# 25th doc), pixel-exact decode, integer 4-px bucket pooling, mean-centered
# sign bits, banded candidates, Hamming ≤ 3 verify — and the oracle derives
# the pixels, bucket sums, signature bits, bands, and candidate pairs all in
# closed form from doc_id. Every stage is integer-exact, so a misread header
# byte, a wrong pooling stride, or a banding bug breaks the hash.
@_register(
    "multimodal_decode_phash_near_dup",
    f"""
WITH ids AS (
  SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id, doc_id, 0 AS variant
  FROM documents
  UNION ALL
  SELECT 'm' || CAST(doc_id AS VARCHAR) || '_v2', doc_id, 1
  FROM documents WHERE doc_id % 25 = 0
),
px AS (
  SELECT media_id, i.i AS idx,
         ((doc_id * 7 + (i.i % {_PPM_W}) * 3 + (i.i // {_PPM_W}) * 5)
           + CASE WHEN variant = 1 AND i.i < 8 THEN 128 ELSE 0 END) % 256 AS p
  FROM ids CROSS JOIN range(0, {_PPM_W * _PPM_H}) i(i)
),
buckets AS (
  SELECT media_id, idx // 4 AS j, SUM(p) AS bsum
  FROM px GROUP BY 1, 2
),
tot AS (SELECT media_id, SUM(bsum) AS total FROM buckets GROUP BY 1),
bits AS (
  SELECT b.media_id, b.j,
         CASE WHEN 64 * b.bsum > t.total THEN 1 ELSE 0 END AS bit
  FROM buckets b JOIN tot t ON t.media_id = b.media_id
),
sigs AS (
  SELECT media_id,
         CAST(SUM(CASE WHEN j < 32 THEN bit * (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS lo,
         CAST(SUM(CASE WHEN j >= 32 THEN bit * (1::BIGINT << (j - 32)) ELSE 0 END) AS BIGINT) AS hi
  FROM bits GROUP BY 1
),
banded AS (
  SELECT media_id, lo, hi, b.b AS band,
         CASE WHEN b.b < 2 THEN (lo >> (16 * b.b)) & 65535
              ELSE (hi >> (16 * (b.b - 2))) & 65535 END AS bval
  FROM sigs CROSS JOIN range(0, 4) b(b)
),
cand AS (
  SELECT DISTINCT a.media_id AS id_a, x.media_id AS id_b,
                  a.lo AS la, a.hi AS ha, x.lo AS lb, x.hi AS hb
  FROM banded a
  JOIN banded x ON a.band = x.band AND a.bval = x.bval AND a.media_id < x.media_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) <= 3
""",
)
def multimodal_decode_phash_near_dup(
    spark: SparkSession, sf_dir: str, band_bits: int = 16
) -> DataFrame:
    """Decoder → hash → join in a single plan: synthesize real P5 payloads
    executor-side (every 25th doc also gets a re-encode variant with its
    first 8 pixels shifted +128 mod 256), decode actual bytes with
    ``_parse_netpbm``, pool to 64 integer bucket sums, mean-center
    (64·bucket − total, exact integers in double), then the SAME
    ``binary_near_dup_pairs`` banded-Hamming operator as the feature-level
    query. Map-only through the decode; the only shuffles are the banded
    candidate equi-join — never all-pairs."""
    import numpy as _np
    import pandas as _pd

    from whatsapp_vectordb_spark.multimodal import (
        MEDIA_SCHEMA,
        _parse_netpbm,
        extract_media_features,
    )
    from whatsapp_vectordb_spark.operators.dedup import binary_near_dup_pairs

    w, h = _PPM_W, _PPM_H
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        header = f"P5\n{w} {h}\n255\n".encode()
        base = _np.arange(w)[None, :] * 3 + _np.arange(h)[:, None] * 5
        for pdf in batches:
            out_ids, out_content = [], []
            for i in pdf["doc_id"].to_numpy():
                px = ((int(i) * 7 + base) % 256).astype(_np.int64)
                out_ids.append(f"m{int(i)}")
                out_content.append(header + px.astype(_np.uint8).tobytes())
                if int(i) % 25 == 0:
                    flat = px.ravel().copy()
                    flat[:8] = (flat[:8] + 128) % 256
                    out_ids.append(f"m{int(i)}_v2")
                    out_content.append(
                        header + flat.reshape(h, w).astype(_np.uint8).tobytes()
                    )
            yield _pd.DataFrame(
                {
                    "media_id": out_ids,
                    "modality": "image",
                    "content": out_content,
                    "mime": "image/x-portable-graymap",
                    "width": w,
                    "height": h,
                    "duration_ms": None,
                }
            )

    media = docs.mapInPandas(gen, MEDIA_SCHEMA)

    def bucket_sums(b: bytes | None):
        if b is None:
            return None
        px = _np.rint(_parse_netpbm(b) * 255.0).astype(_np.int64).ravel()
        return px.reshape(64, 4).sum(axis=1).astype(float).tolist()

    feats = extract_media_features(media, decoder=bucket_sums)
    total = F.aggregate(
        F.col("embedding"), F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )
    centered = feats.where(F.col("embedding").isNotNull()).select(
        "media_id",
        F.transform(
            "embedding", lambda x: F.lit(64.0) * x.cast("double") - total
        ).alias("embedding"),
    )
    # band_bits is a sensitivity knob for tools/stress_phash_bands.py
    # (VERDICT r11 #6): recall is pigeonhole-guaranteed at both 8 and 16
    # (n_bands > max_hamming), so the verified pair set is identical —
    # only candidate volume moves. The registry/oracle row always runs
    # the default 16.
    return binary_near_dup_pairs(
        centered, id_col="media_id", dim=64, band_bits=band_bits, max_hamming=3
    )
