"""kNN / ANN / clustering queries.

Split out of the monolithic harness.py (registration order preserved
within each family; see harness/__init__.py for the module order).
"""
from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window

from whatsapp_vectordb_spark.session import local_df
from pyspark.sql import functions as F

from whatsapp_vectordb_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    euclidean_distance,
    l2_norm,
)
from whatsapp_vectordb_spark.operators.ann import _cluster_for_write
from whatsapp_vectordb_spark.operators.search import topk, topk_batched

from whatsapp_vectordb_spark.harness._core import ROUND_SCORE, _BM25_TERMS, _TOKS, _oracle_scratch, _register, _t  # noqa: E501



# --------------------------------------------------------------------------
# Q1/Q2 — k-NN top-k under each metric (SURVEY.md §2.5). The query vector is
# a stored one (vec_id=0) so the oracle needs no Python embedder.
# --------------------------------------------------------------------------

_KNN_ORACLE = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,{payload}
       ROUND({score_expr}, 6) AS score
FROM embeddings e, q
WHERE {score_expr} IS NOT NULL
ORDER BY score {dir}, e.vec_id ASC
LIMIT 10
"""


@_register(
    "knn_topk_cosine",
    _KNN_ORACLE.format(
        score_expr="list_cosine_similarity(e.embedding::DOUBLE[], q.qv)",
        dir="DESC",
        payload=" e.label,",  # Q4: payload hydrated in the same select
    ),
)
def knn_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    return topk(
        emb, qvec, k=10, metric="cosine", round_to=ROUND_SCORE, payload_cols=("label",)
    )


@_register(
    "knn_topk_dotproduct",
    _KNN_ORACLE.format(
        score_expr="list_dot_product(e.embedding::DOUBLE[], q.qv)", dir="DESC", payload=""
    ),
)
def knn_topk_dotproduct(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    return topk(emb, qvec, k=10, metric="dotproduct", round_to=ROUND_SCORE)


@_register(
    "knn_topk_euclidean",
    _KNN_ORACLE.format(
        score_expr="list_distance(e.embedding::DOUBLE[], q.qv)", dir="ASC", payload=""
    ),
)
def knn_topk_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    return topk(emb, qvec, k=10, metric="euclidean", round_to=ROUND_SCORE)


# --------------------------------------------------------------------------
# Q1 batched — per-query top-k via broadcast + window rank.
# --------------------------------------------------------------------------


@_register(
    "knn_batched",
    """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS query_vec
           FROM embeddings WHERE vec_id < 5)
SELECT query_id, vec_id, score, CAST(rank AS INTEGER) AS rank FROM (
  SELECT q.query_id, e.vec_id,
         ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.query_vec), 6) AS score,
         ROW_NUMBER() OVER (
            PARTITION BY q.query_id
            ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.query_vec), 6) DESC,
                     e.vec_id ASC
         ) AS rank
  FROM embeddings e CROSS JOIN q
) WHERE rank <= 3
""",
)
def knn_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return topk_batched(emb, queries, k=3, metric="cosine", round_to=ROUND_SCORE)


# ==========================================================================
# ANN — the 100 TB scale path for similarity search (operators/ann.py).
# ``ann_lsh_topk`` uses the *portable* integer-quantized sign-projection
# LSH so the oracle reproduces buckets bit-for-bit; ``ann_ivf_topk`` is
# KMeans-based (not SQL-expressible → rows-only check by design).
# ==========================================================================

_ANN_LSH_ORACLE = """
WITH planes AS (
  SELECT p.p AS p, i.i AS i,
         CASE WHEN ('0x' || substr(md5('0:' || CAST(p.p AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)), 1, 1))::BIGINT & 1 = 1
              THEN 1 ELSE -1 END AS s
  FROM range(0,16) p(p) CROSS JOIN range(0,64) i(i)
),
vq AS (
  SELECT vec_id, i.i AS i,
         CAST(round(embedding[i.i + 1]::DOUBLE * 1000000) AS BIGINT) AS q
  FROM embeddings CROSS JOIN range(0,64) i(i)
),
dots AS (
  SELECT vq.vec_id, planes.p, SUM(vq.q * planes.s) AS dot
  FROM vq JOIN planes ON vq.i = planes.i GROUP BY 1, 2
),
sigs AS (
  SELECT vec_id, string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS sig
  FROM dots GROUP BY vec_id
),
banded AS (
  SELECT vec_id, b.b AS band, substr(sig, b.b * 4 + 1, 4) AS chunk
  FROM sigs CROSS JOIN range(0,4) b(b)
),
qb AS (SELECT band, chunk FROM banded WHERE vec_id = 0),
cand AS (SELECT DISTINCT banded.vec_id
         FROM banded JOIN qb ON banded.band = qb.band AND banded.chunk = qb.chunk),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS score
FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id CROSS JOIN q
WHERE list_cosine_similarity(e.embedding::DOUBLE[], q.qv) IS NOT NULL
ORDER BY score DESC, e.vec_id ASC
LIMIT 10
"""


@_register("ann_lsh_topk", _ANN_LSH_ORACLE)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.operators.ann import portable_lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    # dim comes from the fixture registry, not a scan-first-row driver job
    return portable_lsh_topk(
        emb, query_id=0, k=10, n_planes=16, bands=4, seed=0, round_to=ROUND_SCORE,
        dim=64,
    )


_ANN_LSH_MULTIPROBE_ORACLE = """
WITH planes AS (
  SELECT p.p AS p, i.i AS i,
         CASE WHEN ('0x' || substr(md5('0:' || CAST(p.p AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)), 1, 1))::BIGINT & 1 = 1
              THEN 1 ELSE -1 END AS s
  FROM range(0,16) p(p) CROSS JOIN range(0,64) i(i)
),
vq AS (
  SELECT vec_id, i.i AS i,
         CAST(round(embedding[i.i + 1]::DOUBLE * 1000000) AS BIGINT) AS q
  FROM embeddings CROSS JOIN range(0,64) i(i)
),
dots AS (
  SELECT vq.vec_id, planes.p, SUM(vq.q * planes.s) AS dot
  FROM vq JOIN planes ON vq.i = planes.i GROUP BY 1, 2
),
sigs AS (
  SELECT vec_id, string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS sig
  FROM dots GROUP BY vec_id
),
banded AS (
  SELECT vec_id, b.b AS band, substr(sig, b.b * 4 + 1, 4) AS chunk
  FROM sigs CROSS JOIN range(0,4) b(b)
),
qb AS (SELECT band, chunk FROM banded WHERE vec_id = 0),
probes AS (
  SELECT DISTINCT band,
         CASE WHEN f.f = 0 THEN chunk
              ELSE substr(chunk, 1, f.f - 1)
                   || (CASE WHEN substr(chunk, f.f, 1) = '1' THEN '0' ELSE '1' END)
                   || substr(chunk, f.f + 1, 4)
         END AS chunk
  FROM qb CROSS JOIN range(0,5) f(f)
),
cand AS (SELECT DISTINCT banded.vec_id
         FROM banded JOIN probes ON banded.band = probes.band AND banded.chunk = probes.chunk),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS score
FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id CROSS JOIN q
WHERE list_cosine_similarity(e.embedding::DOUBLE[], q.qv) IS NOT NULL
ORDER BY score DESC, e.vec_id ASC
LIMIT 10
"""


@_register("ann_lsh_multiprobe", _ANN_LSH_MULTIPROBE_ORACLE)
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.operators.ann import portable_lsh_topk_multiprobe

    emb = _t(spark, sf_dir, "embeddings")
    return portable_lsh_topk_multiprobe(
        emb, query_id=0, k=10, n_planes=16, bands=4, seed=0, round_to=ROUND_SCORE,
        dim=64,
    )


_IVF_ORACLE_DIR = _oracle_scratch("ivf_oracle")

# The k-means build is not SQL-expressible, but the QUERY path is: the
# harness persists the centroid assignment (partitionBy(centroid) parquet —
# the real disk-resident IVF form) plus the chosen probe ids, and the
# oracle re-runs the probe phase (centroid filter + exact top-k) over the
# very same files. Build stays unchecked; the probe is hash-checked.
_ANN_IVF_ORACLE = f"""
WITH cells AS (
  SELECT * FROM read_parquet('{_IVF_ORACLE_DIR}/cells/*/*.parquet', hive_partitioning = 1)
),
probes AS (
  SELECT centroid FROM read_parquet('{_IVF_ORACLE_DIR}/probe/*.parquet')
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT c.vec_id, ROUND(list_cosine_similarity(c.embedding::DOUBLE[], q.qv), 6) AS score
FROM cells c JOIN probes p ON CAST(c.centroid AS BIGINT) = CAST(p.centroid AS BIGINT)
CROSS JOIN q
WHERE list_cosine_similarity(c.embedding::DOUBLE[], q.qv) IS NOT NULL
ORDER BY score DESC, c.vec_id ASC
LIMIT 10
"""


@_register("ann_ivf_topk", _ANN_IVF_ORACLE)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.operators.ann import IvfIndex

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    idx = IvfIndex.build_balanced(emb.select("vec_id", "embedding"), n_centroids=8).save(
        _IVF_ORACLE_DIR
    )
    # probe the SAVED index (file-level partition pruning on centroid), and
    # persist the probed centroid ids so the oracle replays the same probe
    loaded = IvfIndex.load(spark, _IVF_ORACLE_DIR)
    probe_ids = loaded.probe_centroid_ids(qvec, nprobe=2)
    local_df(spark, [(int(c),) for c in probe_ids], "centroid bigint").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(_IVF_ORACLE_DIR, "probe"))
    return loaded.probe(qvec, k=10, nprobe=2, round_to=ROUND_SCORE)


_PQ_ORACLE_DIR = _oracle_scratch("pq_oracle")

# Product-quantization ADC probe: the k-means codebook build stays
# unchecked (not SQL-expressible), but the QUERY path is bit-exact — the
# integer-quantized lookup table makes every score an order-independent
# int64 sum, which the oracle recomputes from the persisted codes + LUT.
_ANN_PQ_ORACLE = f"""
WITH codes AS (SELECT * FROM read_parquet('{_PQ_ORACLE_DIR}/codes/*.parquet')),
lut AS (SELECT * FROM read_parquet('{_PQ_ORACLE_DIR}/lut/*.parquet')),
s AS (
  SELECT c.vec_id, CAST(SUM(l.w) AS BIGINT) AS score
  FROM codes c CROSS JOIN range(0,8) j(j)
  JOIN lut l ON l.j = j.j AND l.c = c.codes[j.j + 1]
  GROUP BY 1
)
SELECT vec_id, score FROM s
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


@_register("ann_pq_topk", _ANN_PQ_ORACLE)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.operators.ann import PqIndex

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    idx = PqIndex.build(emb, m=8, ksub=16, sample_rows=500, seed=0)
    idx.save(_PQ_ORACLE_DIR, idx.encode(emb))
    lut = idx.lut_int(qvec)
    local_df(spark, 
        [(j, c, int(lut[j, c])) for j in range(lut.shape[0]) for c in range(lut.shape[1])],
        "j int, c int, w bigint",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(_PQ_ORACLE_DIR, "lut"))
    loaded, codes = PqIndex.load(spark, _PQ_ORACLE_DIR)
    return loaded.adc_topk(codes, qvec, k=10)


_IVFPQ_ORACLE_DIR = _oracle_scratch("ivfpq_oracle")

# IVF-PQ probe, DEFAULT (reranked) path: centroid pruning (file-level on
# the saved layout) + integer ADC over 8-byte codes to a 100-candidate
# shortlist, then an exact cosine re-rank over only those rows' float
# vectors (raw ADC order ties aggressively — recall@10 as low as 0.1
# unreranked, BASELINE.md stress table). The shortlist cut is
# deterministic (int64 ADC score, id tiebreak), so the whole query path
# hash-checks; builds stay rows-only.
_ANN_IVFPQ_ORACLE = f"""
WITH cells AS (
  SELECT * FROM read_parquet('{_IVFPQ_ORACLE_DIR}/cells/*/*.parquet', hive_partitioning = 1)
),
probes AS (SELECT centroid FROM read_parquet('{_IVFPQ_ORACLE_DIR}/probe/*.parquet')),
lut AS (SELECT * FROM read_parquet('{_IVFPQ_ORACLE_DIR}/lut/*.parquet')),
adc AS (
  SELECT c.vec_id, CAST(SUM(l.w) AS BIGINT) AS s
  FROM cells c
  JOIN probes p ON CAST(c.centroid AS BIGINT) = CAST(p.centroid AS BIGINT)
  CROSS JOIN range(0,8) j(j)
  JOIN lut l ON l.j = j.j AND l.c = c.codes[j.j + 1]
  GROUP BY 1
  ORDER BY s DESC, vec_id ASC
  LIMIT 100
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS score
FROM embeddings e JOIN adc ON e.vec_id = adc.vec_id CROSS JOIN q
WHERE list_cosine_similarity(e.embedding::DOUBLE[], q.qv) IS NOT NULL
ORDER BY score DESC, e.vec_id ASC
LIMIT 10
"""


def _build_ivfpq_state(spark: SparkSession, sf_dir: str, out_dir: str, nprobe: int):
    """Build IVF+PQ over the fixture embeddings and persist the full query
    state (cells partitioned by centroid, probe ids, integer LUT) so the
    DuckDB oracle replays the identical probe over the same files. Returns
    (emb, qvec, ivf, pq, stored-cells frame)."""
    from whatsapp_vectordb_spark.operators.ann import IvfIndex, PqIndex

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    ivf = IvfIndex.build_balanced(emb, n_centroids=8)
    pq = PqIndex.build(emb, m=8, ksub=16, sample_rows=500, seed=0)
    # the deployed layout: codes + centroid, partitioned by centroid
    cells = pq.encode(emb).join(ivf.assigned.select("vec_id", "centroid"), "vec_id")
    _cluster_for_write(cells).write.partitionBy("centroid").mode("overwrite").parquet(
        os.path.join(out_dir, "cells")
    )
    probe_ids = ivf.probe_centroid_ids(qvec, nprobe=nprobe)
    local_df(spark, [(int(c),) for c in probe_ids], "centroid bigint").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "probe"))
    lut = pq.lut_int(qvec)
    local_df(spark, 
        [(j, c, int(lut[j, c])) for j in range(lut.shape[0]) for c in range(lut.shape[1])],
        "j int, c int, w bigint",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "lut"))
    stored = spark.read.parquet(os.path.join(out_dir, "cells"))
    return emb, qvec, ivf, pq, stored


@_register("ann_ivfpq_topk", _ANN_IVFPQ_ORACLE)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.operators.ann import ivfpq_topk

    emb, qvec, ivf, pq, stored = _build_ivfpq_state(
        spark, sf_dir, _IVFPQ_ORACLE_DIR, nprobe=2
    )
    return ivfpq_topk(ivf, pq, stored, qvec, k=10, nprobe=2, index_df=emb)


_IVFPQ_B_DIR = _oracle_scratch("ivfpq_batched")
_IVFPQ_BATCH_QIDS = (0, 1, 2)

# Batched IVF-PQ: the PQ twin of ann_ivf_sq8_batched_topk — N queries,
# ONE scan over the union of their probed cells, per-query integer ADC
# LUTs, window rank. Persisted-state oracle like ann_ivfpq_topk: the
# partitioned codes, the (query, cell) probe map, and the per-query LUTs
# are all written to parquet, and DuckDB replays the identical probe
# over the same files — every integer the ranking touches is on disk.

_ANN_IVFPQ_BATCHED_ORACLE = f"""
WITH cells AS (
  SELECT * FROM read_parquet('{_IVFPQ_B_DIR}/cells/*/*.parquet', hive_partitioning = 1)
),
probes AS (
  SELECT query_id, centroid FROM read_parquet('{_IVFPQ_B_DIR}/probe/*.parquet')
),
lut AS (
  SELECT query_id, j, c, w FROM read_parquet('{_IVFPQ_B_DIR}/lut/*.parquet')
),
scores AS (
  SELECT p.query_id, cl.vec_id, CAST(SUM(l.w) AS BIGINT) AS score_int
  FROM cells cl
  JOIN probes p ON CAST(cl.centroid AS BIGINT) = CAST(p.centroid AS BIGINT)
  CROSS JOIN range(0, 8) j(j)
  JOIN lut l ON l.query_id = p.query_id AND l.j = j.j AND l.c = cl.codes[j.j + 1]
  GROUP BY 1, 2
)
SELECT query_id, vec_id, score_int FROM (
  SELECT query_id, vec_id, score_int,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score_int DESC, vec_id ASC
         ) AS rk
  FROM scores
) WHERE rk <= 5
"""


@_register("ann_ivfpq_batched_topk", _ANN_IVFPQ_BATCHED_ORACLE)
def ann_ivfpq_batched_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF-PQ probe: 3 queries answered in ONE pass over the
    union of their probed cells — per-query integer ADC LUTs and the
    (query, cell) probe map broadcast, the 32×-compressed codes table
    scanned once with file-level partition pruning, ranking one
    query_id-keyed window. Completes the batched-serving family
    (IVF float / IVF-SQ8 / now IVF-PQ); raw ADC scores by contract
    (the re-rank composition is `ann_ivf_sq8_batched_rerank_topk`'s
    shape and `ivfpq_topk(index_df=...)` for PQ)."""
    from whatsapp_vectordb_spark.operators.ann import (
        IvfIndex,
        PqIndex,
        ivfpq_batched_topk,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ivf = IvfIndex.build_balanced(emb, n_centroids=8)
    pq = PqIndex.build(emb, m=8, ksub=16, sample_rows=500, seed=0)
    cells = pq.encode(emb).join(ivf.assigned.select("vec_id", "centroid"), "vec_id")
    _cluster_for_write(cells).write.partitionBy("centroid").mode("overwrite").parquet(
        os.path.join(_IVFPQ_B_DIR, "cells")
    )
    qrows = (
        emb.where(F.col("vec_id").isin(*_IVFPQ_BATCH_QIDS))
        .select("vec_id", "embedding")
        .collect()
    )
    queries = [(r["vec_id"], r["embedding"]) for r in qrows]
    probe_map = {
        qid: ivf.probe_centroid_ids(vec, nprobe=2) for qid, vec in queries
    }
    local_df(spark, 
        [(int(q), int(c)) for q, cs in probe_map.items() for c in cs],
        "query_id bigint, centroid bigint",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(_IVFPQ_B_DIR, "probe"))
    lut_rows = []
    for qid, vec in queries:
        lut = pq.lut_int(vec)
        lut_rows.extend(
            (int(qid), j, c, int(lut[j, c]))
            for j in range(lut.shape[0])
            for c in range(lut.shape[1])
        )
    local_df(spark, lut_rows, "query_id bigint, j int, c int, w bigint").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(_IVFPQ_B_DIR, "lut"))
    stored = spark.read.parquet(os.path.join(_IVFPQ_B_DIR, "cells"))
    return ivfpq_batched_topk(pq, stored, queries, probe_map, k=5)


_RECALL_ORACLE_DIR = _oracle_scratch("ivfpq_recall_oracle")

# VERDICT r02 #3: the reference's entire product is k-NN answer quality
# (reference main.go:89-184), so recall itself is oracle-gated: recall@10
# of the default (reranked) IVF-PQ probe against the exact top-10 over the
# SAME parquet — both sides deterministic, both engines replay the full
# shortlist + re-rank + intersect.
_ANN_RECALL_ORACLE = f"""
WITH cells AS (
  SELECT * FROM read_parquet('{_RECALL_ORACLE_DIR}/cells/*/*.parquet', hive_partitioning = 1)
),
probes AS (SELECT centroid FROM read_parquet('{_RECALL_ORACLE_DIR}/probe/*.parquet')),
lut AS (SELECT * FROM read_parquet('{_RECALL_ORACLE_DIR}/lut/*.parquet')),
adc AS (
  SELECT c.vec_id, CAST(SUM(l.w) AS BIGINT) AS s
  FROM cells c
  JOIN probes p ON CAST(c.centroid AS BIGINT) = CAST(p.centroid AS BIGINT)
  CROSS JOIN range(0,8) j(j)
  JOIN lut l ON l.j = j.j AND l.c = c.codes[j.j + 1]
  GROUP BY 1
  ORDER BY s DESC, vec_id ASC
  LIMIT 200
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
ann AS (
  SELECT e.vec_id
  FROM embeddings e JOIN adc ON e.vec_id = adc.vec_id CROSS JOIN q
  WHERE list_cosine_similarity(e.embedding::DOUBLE[], q.qv) IS NOT NULL
  ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) DESC, e.vec_id ASC
  LIMIT 10
),
exact AS (
  SELECT e.vec_id
  FROM embeddings e CROSS JOIN q
  WHERE list_cosine_similarity(e.embedding::DOUBLE[], q.qv) IS NOT NULL
  ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) DESC, e.vec_id ASC
  LIMIT 10
)
SELECT CAST(10 AS BIGINT) AS k, ROUND(CAST(COUNT(*) AS DOUBLE) / 10.0, 6) AS recall
FROM ann JOIN exact ON ann.vec_id = exact.vec_id
"""


@_register("ann_recall_gate", _ANN_RECALL_ORACLE)
def ann_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the default IVF-PQ probe (nprobe=6 of 8 cells,
    shortlist-200 exact re-rank) vs exact brute-force top-10 — a single
    ``(k, recall)`` row, hash-checked. The gate expectation is ≥ 0.9."""
    from whatsapp_vectordb_spark.operators.ann import ivfpq_topk
    from whatsapp_vectordb_spark.operators.search import topk

    emb, qvec, ivf, pq, stored = _build_ivfpq_state(
        spark, sf_dir, _RECALL_ORACLE_DIR, nprobe=6
    )
    ann_ids = ivfpq_topk(ivf, pq, stored, qvec, k=10, nprobe=6, index_df=emb, shortlist=200).select(
        "vec_id"
    )
    exact_ids = topk(emb, qvec, k=10, round_to=ROUND_SCORE).select("vec_id")
    return (
        ann_ids.join(exact_ids, "vec_id")
        .agg(F.count("*").alias("hits"))
        .select(
            F.lit(10).cast("long").alias("k"),
            F.round(F.col("hits").cast("double") / F.lit(10.0), 6).alias("recall"),
        )
    )


_IVFPQR_ORACLE_DIR = _oracle_scratch("ivfpq_residual_oracle")

# Residual IVF-PQ probe (the FAISS-style layout): distances are exact
# int64 sums of the per-cell LUT entries, ascending; build stays
# rows-only, the query path hash-checks over the persisted state.
_ANN_IVFPQR_ORACLE = f"""
WITH cells AS (
  SELECT * FROM read_parquet('{_IVFPQR_ORACLE_DIR}/cells/*/*.parquet', hive_partitioning = 1)
),
probes AS (SELECT centroid FROM read_parquet('{_IVFPQR_ORACLE_DIR}/probe/*.parquet')),
lut AS (SELECT * FROM read_parquet('{_IVFPQR_ORACLE_DIR}/lut/*.parquet')),
s AS (
  SELECT c.vec_id, CAST(SUM(l.w) AS BIGINT) AS score
  FROM cells c
  JOIN probes p ON CAST(c.centroid AS BIGINT) = CAST(p.centroid AS BIGINT)
  CROSS JOIN range(0,8) j(j)
  JOIN lut l ON CAST(l.centroid AS BIGINT) = CAST(c.centroid AS BIGINT)
            AND l.j = j.j AND l.c = c.codes[j.j + 1]
  GROUP BY 1
)
SELECT vec_id, score FROM s
ORDER BY score ASC, vec_id ASC
LIMIT 10
"""


@_register("ann_ivfpq_residual_topk", _ANN_IVFPQR_ORACLE)
def ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.operators.ann import IvfPqResidualIndex

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    idx = IvfPqResidualIndex.build(emb, n_centroids=8, m=8, ksub=16, sample_rows=500)
    _cluster_for_write(idx.encode(emb)).write.partitionBy("centroid").mode("overwrite").parquet(
        os.path.join(_IVFPQR_ORACLE_DIR, "cells")
    )
    cells = idx.probe_cells(qvec, nprobe=2)
    local_df(spark, [(int(c),) for c in cells], "centroid bigint").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(_IVFPQR_ORACLE_DIR, "probe"))
    luts = idx.luts_int(qvec, cells)
    rows = [
        (int(c), j, k, int(luts[c][j, k]))
        for c in cells
        for j in range(luts[c].shape[0])
        for k in range(luts[c].shape[1])
    ]
    local_df(spark, rows, "centroid bigint, j int, c int, w bigint").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(_IVFPQR_ORACLE_DIR, "lut"))
    stored = spark.read.parquet(os.path.join(_IVFPQR_ORACLE_DIR, "cells"))
    return idx.probe(stored, qvec, k=10, nprobe=2)


_ANN_LSH_BATCHED_ORACLE = """
WITH planes AS (
  SELECT p.p AS p, i.i AS i,
         CASE WHEN ('0x' || substr(md5('0:' || CAST(p.p AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)), 1, 1))::BIGINT & 1 = 1
              THEN 1 ELSE -1 END AS s
  FROM range(0,16) p(p) CROSS JOIN range(0,64) i(i)
),
vq AS (
  SELECT vec_id, i.i AS i,
         CAST(round(embedding[i.i + 1]::DOUBLE * 1000000) AS BIGINT) AS q
  FROM embeddings CROSS JOIN range(0,64) i(i)
),
dots AS (
  SELECT vq.vec_id, planes.p, SUM(vq.q * planes.s) AS dot
  FROM vq JOIN planes ON vq.i = planes.i GROUP BY 1, 2
),
sigs AS (
  SELECT vec_id, string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS sig
  FROM dots GROUP BY vec_id
),
banded AS (
  SELECT vec_id, b.b AS band, substr(sig, b.b * 4 + 1, 4) AS chunk
  FROM sigs CROSS JOIN range(0,4) b(b)
),
qb AS (SELECT vec_id AS query_id, band, chunk FROM banded WHERE vec_id IN (0, 1, 2)),
cand AS (
  SELECT DISTINCT qb.query_id, banded.vec_id
  FROM banded JOIN qb ON banded.band = qb.band AND banded.chunk = qb.chunk
),
qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id IN (0, 1, 2)),
scored AS (
  SELECT c.query_id, e.vec_id,
         ROUND(list_cosine_similarity(e.embedding::DOUBLE[], qv.v), 6) AS score
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN qv ON qv.query_id = c.query_id
  WHERE list_cosine_similarity(e.embedding::DOUBLE[], qv.v) IS NOT NULL
)
SELECT query_id, vec_id, score, CAST(rn AS INTEGER) AS rank FROM (
  SELECT query_id, vec_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= 5
"""


@_register("ann_lsh_batched", _ANN_LSH_BATCHED_ORACLE)
def ann_lsh_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.operators.ann import portable_lsh_topk_batched

    emb = _t(spark, sf_dir, "embeddings")
    return portable_lsh_topk_batched(
        emb, query_ids=[0, 1, 2], k=5, n_planes=16, bands=4, seed=0, round_to=ROUND_SCORE,
        dim=64,
    )


# Sparse k-NN (types.SPARSE_VECTOR_SCHEMA, reference main.go:45-48): the
# corpus is thresholded-sparsified embeddings; ranking uses the sparse
# cosine over matching indices only. Candidates are restricted to vectors
# sharing ≥1 sparse index with the query (arrays_overlap) — the same
# inverted-index semantics the oracle's equi-join on idx expresses.
_KNN_SPARSE_ORACLE = """
WITH sp AS (
  SELECT vec_id, i.i AS idx, embedding[i.i + 1]::DOUBLE AS v
  FROM embeddings CROSS JOIN range(0,64) i(i)
  WHERE abs(embedding[i.i + 1]::DOUBLE) > 0.1
),
q AS (SELECT idx, v FROM sp WHERE vec_id = 0),
dots AS (
  SELECT sp.vec_id, SUM(sp.v * q.v) AS dot
  FROM sp JOIN q ON sp.idx = q.idx GROUP BY 1
),
norms AS (SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM sp GROUP BY 1),
qn AS (SELECT sqrt(SUM(v * v)) AS nrm FROM q)
SELECT d.vec_id, ROUND(d.dot / (n.nrm * qn.nrm), 6) AS score
FROM dots d JOIN norms n ON n.vec_id = d.vec_id CROSS JOIN qn
WHERE n.nrm > 0 AND qn.nrm > 0
ORDER BY score DESC, d.vec_id ASC
LIMIT 10
"""


@_register("knn_topk_sparse", _KNN_SPARSE_ORACLE)
def knn_topk_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.functions.vector import dense_to_sparse, sparse_cosine

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", dense_to_sparse("embedding", threshold=0.1).alias("sp")
    )
    q = emb.where(F.col("vec_id") == 0).select(F.col("sp").alias("qsp"))
    scored = (
        emb.crossJoin(F.broadcast(q))
        .where(F.arrays_overlap(F.col("sp.indices"), F.col("qsp.indices")))
        .select(
            "vec_id",
            F.round(sparse_cosine("sp", "qsp"), ROUND_SCORE).alias("score"),
        )
        .where(F.col("score").isNotNull())
    )
    return scored.orderBy(F.col("score").desc(), F.col("vec_id").asc()).limit(10)


# ==========================================================================
# Round 3: per-label embedding cluster profile (functions/vector.py
# label_centroid_stats) — integer-quantized centroid sums so both engines
# agree bit-for-bit on everything except the final O(1) distance average.
# ==========================================================================


@_register(
    "embeddings_label_centroids",
    """
WITH ex AS (
  SELECT label, vec_id, i.i AS pos,
         CAST(round(embedding[i.i + 1]::DOUBLE * 10000) AS BIGINT) AS q
  FROM embeddings CROSS JOIN range(0, 64) i(i)
),
cent AS (SELECT label, pos, SUM(q) AS S, COUNT(*) AS n FROM ex GROUP BY 1, 2),
norms AS (SELECT label, MAX(n) AS n_vectors, SUM(S * S) AS SS FROM cent GROUP BY 1),
d AS (
  SELECT e.label, e.vec_id,
         SUM((e.q * c.n - c.S) * (e.q * c.n - c.S)) AS dq2, MAX(c.n) AS n
  FROM ex e JOIN cent c ON e.label = c.label AND e.pos = c.pos
  GROUP BY 1, 2
),
dv AS (SELECT label, SQRT(dq2::DOUBLE) / (10000.0 * n) AS dist FROM d)
SELECT nm.label,
       CAST(nm.n_vectors AS BIGINT) AS n_vectors,
       ROUND(SQRT(nm.SS::DOUBLE) / (10000.0 * nm.n_vectors), 6) AS centroid_norm,
       ROUND(AVG(dv.dist), 4) AS avg_dist
FROM norms nm JOIN dv ON nm.label = dv.label
GROUP BY 1, 2, 3
""",
)
def embeddings_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.functions.vector import label_centroid_stats

    return label_centroid_stats(_t(spark, sf_dir, "embeddings"))


# ==========================================================================
# Round 3: OPQ — rotation-optimized product quantization (operators/ann.py
# OpqIndex; Ge et al. CVPR 2013). The rotation lives entirely Spark-side;
# the oracle replays the identical integer-ADC probe over persisted codes.
# ==========================================================================

_OPQ_ORACLE_DIR = _oracle_scratch("opq_oracle")

_ANN_OPQ_ORACLE = f"""
WITH codes AS (SELECT * FROM read_parquet('{_OPQ_ORACLE_DIR}/codes/*.parquet')),
lut AS (SELECT * FROM read_parquet('{_OPQ_ORACLE_DIR}/lut/*.parquet')),
s AS (
  SELECT c.vec_id, CAST(SUM(l.w) AS BIGINT) AS score
  FROM codes c CROSS JOIN range(0,8) j(j)
  JOIN lut l ON l.j = j.j AND l.c = c.codes[j.j + 1]
  GROUP BY 1
)
SELECT vec_id, score FROM s
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


@_register("ann_opq_topk", _ANN_OPQ_ORACLE)
def ann_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.operators.ann import OpqIndex

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    idx = OpqIndex.build(emb, m=8, ksub=16, sample_rows=500, seed=0, opq_iters=4)
    idx.save(_OPQ_ORACLE_DIR, idx.encode(emb))
    lut = idx.lut_int(qvec)
    local_df(spark, 
        [(j, c, int(lut[j, c])) for j in range(lut.shape[0]) for c in range(lut.shape[1])],
        "j int, c int, w bigint",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(_OPQ_ORACLE_DIR, "lut"))
    loaded, codes = OpqIndex.load(spark, _OPQ_ORACLE_DIR)
    return loaded.adc_topk(codes, qvec, k=10)


# ==========================================================================
# Round 3: approximate kNN graph (operators/ann.py knn_graph_lsh) — the
# density/diversity curation primitive; candidates from the bit-exact
# portable LSH (32 planes / 8-bit chunks), per-node window top-5.
# ==========================================================================


_ANN_KNN_GRAPH_ORACLE = """
WITH planes AS (
  SELECT p.p AS p, i.i AS i,
         CASE WHEN ('0x' || substr(md5('0:' || CAST(p.p AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)), 1, 1))::BIGINT & 1 = 1
              THEN 1 ELSE -1 END AS s
  FROM range(0,32) p(p) CROSS JOIN range(0,64) i(i)
),
vq AS (
  SELECT vec_id, i.i AS i,
         CAST(round(embedding[i.i + 1]::DOUBLE * 1000000) AS BIGINT) AS q
  FROM embeddings CROSS JOIN range(0,64) i(i)
),
dots AS (
  SELECT vq.vec_id, planes.p, SUM(vq.q * planes.s) AS dot
  FROM vq JOIN planes ON vq.i = planes.i GROUP BY 1, 2
),
sigs AS (
  SELECT vec_id, string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS sig
  FROM dots GROUP BY vec_id
),
banded AS (
  SELECT vec_id, b.b AS band, substr(sig, b.b * 8 + 1, 8) AS chunk
  FROM sigs CROSS JOIN range(0,4) b(b)
),
cand AS (
  SELECT DISTINCT a.vec_id AS src, b.vec_id AS nbr
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.chunk = b.chunk AND a.vec_id <> b.vec_id
),
scored AS (
  SELECT c.src, c.nbr,
         ROUND(list_cosine_similarity(va.embedding::DOUBLE[], vb.embedding::DOUBLE[]), 6) AS cos_sim
  FROM cand c
  JOIN embeddings va ON va.vec_id = c.src
  JOIN embeddings vb ON vb.vec_id = c.nbr
  WHERE list_cosine_similarity(va.embedding::DOUBLE[], vb.embedding::DOUBLE[]) IS NOT NULL
)
SELECT src, nbr, cos_sim, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT src, nbr, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos_sim DESC, nbr ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


@_register("ann_knn_graph", _ANN_KNN_GRAPH_ORACLE)
def ann_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.operators.ann import knn_graph_lsh

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return knn_graph_lsh(emb, k=5, n_planes=32, bands=4, dim=64)


# ==========================================================================
# Round 3: OPQ + residual IVF-PQ composition (operators/ann.py
# OpqIvfPqIndex) — the FAISS "OPQm,IVFc,PQm" recipe: learned rotation,
# then coarse cells + residual codes in rotated space. The probe is the
# identical integer-LUT ADC scan, replayed by the oracle over persisted
# cells + LUTs.
# ==========================================================================

_OPQ_IVFPQ_DIR = _oracle_scratch("opq_ivfpq_oracle")

_ANN_OPQ_IVFPQ_ORACLE = f"""
WITH cells AS (
  SELECT * FROM read_parquet('{_OPQ_IVFPQ_DIR}/cells/*/*.parquet', hive_partitioning = 1)
),
probes AS (SELECT centroid FROM read_parquet('{_OPQ_IVFPQ_DIR}/probe/*.parquet')),
lut AS (SELECT * FROM read_parquet('{_OPQ_IVFPQ_DIR}/lut/*.parquet')),
s AS (
  SELECT c.vec_id, CAST(SUM(l.w) AS BIGINT) AS score
  FROM cells c
  JOIN probes p ON CAST(c.centroid AS BIGINT) = CAST(p.centroid AS BIGINT)
  CROSS JOIN range(0,8) j(j)
  JOIN lut l ON CAST(l.centroid AS BIGINT) = CAST(c.centroid AS BIGINT)
            AND l.j = j.j AND l.c = c.codes[j.j + 1]
  GROUP BY 1
)
SELECT vec_id, score FROM s
ORDER BY score ASC, vec_id ASC
LIMIT 10
"""


@_register("ann_opq_ivfpq_topk", _ANN_OPQ_IVFPQ_ORACLE)
def ann_opq_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.operators.ann import OpqIvfPqIndex

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    idx = OpqIvfPqIndex.build(
        emb, n_centroids=8, m=8, ksub=16, sample_rows=500, opq_iters=4
    )
    _cluster_for_write(idx.encode(emb)).write.partitionBy("centroid").mode("overwrite").parquet(
        os.path.join(_OPQ_IVFPQ_DIR, "cells")
    )
    cells = idx.probe_cells(qvec, nprobe=2)
    local_df(spark, [(int(c),) for c in cells], "centroid bigint").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(_OPQ_IVFPQ_DIR, "probe"))
    luts = idx.luts_int(qvec, cells)
    rows = [
        (int(c), j, k, int(luts[c][j, k]))
        for c in cells
        for j in range(luts[c].shape[0])
        for k in range(luts[c].shape[1])
    ]
    local_df(spark, rows, "centroid bigint, j int, c int, w bigint").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(_OPQ_IVFPQ_DIR, "lut"))
    stored = spark.read.parquet(os.path.join(_OPQ_IVFPQ_DIR, "cells"))
    return idx.probe(stored, qvec, k=10, nprobe=2)


# Round 6: ONE full Lloyd iteration oracle-checked end to end — seeds are
# the first 8 stored vectors (deterministic, no RNG), assignment is the
# integer-exact quantized argmin, and the centroid UPDATE is reported as
# exact integer aggregates (member count, component sum, position-weighted
# component sum). Until now only the PROBE phases of k-means-built indexes
# were oracle-checked; this pins the clustering math itself.
_KM_SCALE = 1_000_000
_KM_K = 8


@_register(
    "cluster_kmeans_step",
    f"""
WITH q AS (
  SELECT vec_id, i.i AS pos,
         CAST(round(embedding[i.i + 1]::DOUBLE * {_KM_SCALE}) AS BIGINT) AS qv
  FROM embeddings CROSS JOIN range(0, 64) i(i)
),
seeds AS (SELECT vec_id AS centroid, pos, qv FROM q WHERE vec_id < {_KM_K}),
d AS (
  SELECT v.vec_id, s.centroid, SUM((v.qv - s.qv) * (v.qv - s.qv)) AS d2
  FROM q v JOIN seeds s ON v.pos = s.pos
  GROUP BY 1, 2
),
assign AS (
  SELECT vec_id, centroid FROM (
    SELECT vec_id, centroid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, centroid ASC) AS r
    FROM d
  ) WHERE r = 1
)
SELECT a.centroid,
       CAST(COUNT(DISTINCT a.vec_id) AS BIGINT) AS n_members,
       CAST(SUM(q.qv) AS BIGINT) AS qsum,
       CAST(SUM((q.pos + 1) * q.qv) AS BIGINT) AS qsum_weighted
FROM assign a JOIN q ON q.vec_id = a.vec_id
GROUP BY 1
""",
)
def cluster_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's iteration as a first-class distributed op: broadcast the k
    seed centroids, integer-quantized argmin assignment (map-only,
    codegen'd — operators/ann.assign_cells_quantized), then ONE shuffle
    keyed by centroid for the update aggregates. The new centroid is
    qsum/n per component; the position-weighted sum pins the full update
    vector without emitting 64 columns. At 100 TB this is exactly the
    per-iteration shape of distributed k-means: map + one k-row-bounded
    aggregate."""
    from whatsapp_vectordb_spark.operators.ann import assign_cells_quantized

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seeds = emb.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("centroid"), F.col("embedding").alias("cvec")
    )
    assigned = assign_cells_quantized(emb, seeds).select("vec_id", "centroid")
    qcomp = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * _KM_SCALE).cast("long"),
            )
        ).alias("pos", "qv"),
    )
    return (
        assigned.join(qcomp, "vec_id")
        .groupBy("centroid")
        .agg(
            F.count_distinct("vec_id").cast("long").alias("n_members"),
            F.sum("qv").cast("long").alias("qsum"),
            F.sum((F.col("pos") + 1) * F.col("qv")).cast("long").alias("qsum_weighted"),
        )
    )


# Round 7: Lloyd to CONVERGENCE — the multi-iteration loop over the single
# step pinned above. Seeds, argmin, and the floor(qsum/n + 0.5)
# half-toward-+inf update (NOT java HALF_UP: -2.5 → -2; the FLOOR formula
# itself is the contract) are engine-portable integer/IEEE-exact math, so the DuckDB oracle
# UNROLLS the iterations as chained CTEs and must land on bit-identical
# centroids, memberships, and L1 movement. Empty cells carry forward.
_KM_ITERS = 2


def _kmeans_converge_sql(k: int, iters: int, scale: int, dim: int = 64) -> str:
    parts = [
        f"""q AS (
  SELECT vec_id, i.i AS pos,
         CAST(round(embedding[i.i + 1]::DOUBLE * {scale}) AS BIGINT) AS qv
  FROM embeddings CROSS JOIN range(0, {dim}) i(i)
),
c0 AS (SELECT vec_id AS centroid, pos, qv AS qc FROM q WHERE vec_id < {k})"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""a{t} AS (
  SELECT vec_id, centroid FROM (
    SELECT vec_id, centroid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, centroid ASC) AS r
    FROM (SELECT v.vec_id, c.centroid, SUM((v.qv - c.qc) * (v.qv - c.qc)) AS d2
          FROM q v JOIN c{t - 1} c ON v.pos = c.pos GROUP BY 1, 2)
  ) WHERE r = 1
),
u{t} AS (
  SELECT a.centroid, q.pos,
         CAST(FLOOR(SUM(q.qv)::DOUBLE / COUNT(*) + 0.5) AS BIGINT) AS qc
  FROM a{t} a JOIN q ON q.vec_id = a.vec_id
  GROUP BY 1, 2
),
c{t} AS (
  SELECT p.centroid, p.pos, COALESCE(u.qc, p.qc) AS qc
  FROM c{t - 1} p LEFT JOIN u{t} u ON u.centroid = p.centroid AND u.pos = p.pos
)"""
        )
    t = iters
    parts.append(
        f"""afin AS (
  SELECT vec_id, centroid FROM (
    SELECT vec_id, centroid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, centroid ASC) AS r
    FROM (SELECT v.vec_id, c.centroid, SUM((v.qv - c.qc) * (v.qv - c.qc)) AS d2
          FROM q v JOIN c{t} c ON v.pos = c.pos GROUP BY 1, 2)
  ) WHERE r = 1
),
m AS (SELECT centroid, COUNT(*) AS n FROM afin GROUP BY 1),
fin AS (
  SELECT centroid, CAST(SUM(qc) AS BIGINT) AS qc_sum,
         CAST(SUM((pos + 1) * qc) AS BIGINT) AS qc_sum_weighted
  FROM c{t} GROUP BY 1
),
mv AS (
  SELECT a.centroid, CAST(SUM(ABS(a.qc - b.qc)) AS BIGINT) AS movement
  FROM c{t} a JOIN c{t - 1} b ON b.centroid = a.centroid AND b.pos = a.pos
  GROUP BY 1
)"""
    )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT f.centroid, CAST(COALESCE(m.n, 0) AS BIGINT) AS n_members,
       f.qc_sum, f.qc_sum_weighted, mv.movement
FROM fin f LEFT JOIN m ON m.centroid = f.centroid
JOIN mv ON mv.centroid = f.centroid
"""


def _kmeans_converge_summary(
    spark: SparkSession, sf_dir: str, update_mode: str
) -> DataFrame:
    """Shared body of the converge/mapside query pair: run kmeans_lloyd to
    _KM_ITERS in the given update mode and emit the per-centroid summary
    (member count, centroid checksums, L1 movement) the unrolled-CTE
    oracle replays. ONE definition so a checksum tweak cannot land in one
    twin and silently diverge the other's oracle."""
    from whatsapp_vectordb_spark.operators.ann import kmeans_lloyd

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents, assigned, movement = kmeans_lloyd(
        emb, k=_KM_K, iters=_KM_ITERS, scale=_KM_SCALE, update_mode=update_mode
    )
    counts = assigned.groupBy("centroid").agg(F.count("*").cast("long").alias("n_members"))
    summary = local_df(spark, 
        [
            (
                cid,
                sum(qc),
                sum((j + 1) * x for j, x in enumerate(qc)),
                movement[cid],
            )
            for cid, qc in cents
        ],
        "centroid bigint, qc_sum bigint, qc_sum_weighted bigint, movement bigint",
    )
    return (
        summary.join(counts, "centroid", "left")
        .select(
            "centroid",
            F.coalesce(F.col("n_members"), F.lit(0)).cast("long").alias("n_members"),
            "qc_sum",
            "qc_sum_weighted",
            "movement",
        )
    )


@_register("cluster_kmeans_converge", _kmeans_converge_sql(_KM_K, _KM_ITERS, _KM_SCALE))
def cluster_kmeans_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-means convergence loop (operators/ann.kmeans_lloyd): each
    iteration is one broadcast-argmin pass plus one k·d-bounded aggregate
    collected to the driver (the MLlib contract — centroids live on the
    driver, data never does), with empty-cell carry-forward and an exact
    integer L1 movement per centroid. The oracle replays the SAME math as
    unrolled CTEs; every value (memberships, centroid checksums, movement)
    must match bit-for-bit, which it can because the update rule is
    quantized-integer + exactly-rounded IEEE division, not float
    accumulation."""
    return _kmeans_converge_summary(spark, sf_dir, "portable")


# Round 8: the PRODUCTION k-means update path under the SAME unrolled-CTE
# oracle — update_mode="mapside" computes each iteration's (centroid, pos)
# → (count, qsum) aggregate in one mapInPandas pass over Spark-pre-quantized
# vectors (exact int64 argmin + per-partition partial sums; k·d·partitions
# shuffle instead of the portable path's N·d join+shuffle). Bit-parity with
# the portable loop is a theorem of the construction (same JVM quantization,
# integer-only Python arithmetic), pinned here by the oracle and at scale by
# tools/stress_ann_curve.py --kmeans-compare.
@_register("cluster_kmeans_mapside", _kmeans_converge_sql(_KM_K, _KM_ITERS, _KM_SCALE))
def cluster_kmeans_mapside(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cluster_kmeans_converge's production twin: identical loop, map-side
    partial-sum update (operators/ann._kmeans_mapside_partials). The
    oracle is the SAME unrolled-CTE replay of the portable formula —
    passing means the scale path and the analytic spec agree bit-for-bit
    on centroids, memberships, and movement."""
    return _kmeans_converge_summary(spark, sf_dir, "mapside")


# ==========================================================================
# Round 4: dimensionality reduction (operators/projection.py) — JL random
# projection (stateless, md5-derived ±1 signs, integer-exact in both
# engines) and sample-trained exact PCA (persisted-components oracle).
# ==========================================================================

_JL_SEED, _JL_IN, _JL_OUT = 7, 64, 16


@_register(
    "ann_jl_topk",
    f"""
WITH px AS (
  SELECT e.vec_id, j.j AS j,
         SUM(CAST(round(e.embedding[i.i + 1]::DOUBLE * 1000000) AS BIGINT) *
             CASE WHEN ('0x' || substr(md5('{_JL_SEED}_' || i.i || '_' || j.j), 1, 1))::INT % 2 = 0
                  THEN 1 ELSE -1 END) AS p
  FROM embeddings e
  CROSS JOIN range(0, {_JL_IN}) i(i)
  CROSS JOIN range(0, {_JL_OUT}) j(j)
  GROUP BY 1, 2
),
q AS (SELECT j, p AS qp FROM px WHERE vec_id = 0),
sc AS (
  SELECT px.vec_id,
         SUM(px.p * q.qp) AS dot,
         SUM(px.p * px.p) AS nv,
         SUM(q.qp * q.qp) AS nq
  FROM px JOIN q ON px.j = q.j
  GROUP BY 1
)
SELECT vec_id, ROUND(dot / (sqrt(nv) * sqrt(nq)), 6) AS score
FROM sc WHERE nv > 0
ORDER BY score DESC, vec_id ASC
LIMIT 10
""",
)
def ann_jl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss pre-filter tier: 64→16-dim ±1 projection
    (integer-exact), exact cosine top-10 in the PROJECTED space. Stateless
    — the sign matrix is a pure function of (seed, i, j), so the oracle
    regenerates it instead of replaying persisted state. Map-only
    projection; top-k is the usual no-shuffle TakeOrderedAndProject."""
    from whatsapp_vectordb_spark.operators.projection import jl_project

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    proj = jl_project(emb, _JL_IN, _JL_OUT, seed=_JL_SEED)
    qproj = [int(v) for v in proj.where(F.col("vec_id") == 0).head()["proj"]]
    nq = sum(v * v for v in qproj)
    qcol = F.lit(qproj).cast("array<long>")
    dot = F.aggregate(
        F.zip_with(F.col("proj"), qcol, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    nv = F.aggregate(
        F.zip_with(F.col("proj"), F.col("proj"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = proj.select(
        "vec_id",
        F.round(
            dot.cast("double") / (F.sqrt(nv.cast("double")) * F.sqrt(F.lit(float(nq)))),
            6,
        ).alias("score"),
        nv.alias("_nv"),
    ).where(F.col("_nv") > 0)
    return (
        scored.orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", "score")
    )


# ==========================================================================
# Round 4: metadata-filtered kNN (the Pinecone `filter=` query parameter —
# modeled by the reference's metadata map, main.go:41-55) and the JL
# two-stage recall gate.
# ==========================================================================


@_register(
    "knn_topk_filtered",
    """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, e.label,
       ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS score
FROM embeddings e, q
WHERE e.label = 3
  AND list_cosine_similarity(e.embedding::DOUBLE[], q.qv) IS NOT NULL
ORDER BY score DESC, e.vec_id ASC
LIMIT 10
""",
)
def knn_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered kNN — Pinecone's `filter=` parameter: the
    predicate applies BEFORE scoring, so the filter pushes down to the
    parquet scan and the top-k heap only ever sees matching rows (the
    wrong plan — score-then-filter — would rank the whole index first).
    Asserted by tests/test_plans.py::test_filtered_knn_pushes_predicate."""
    from whatsapp_vectordb_spark.operators.search import topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    return topk(
        emb.where(F.col("label") == 3),
        qvec,
        k=10,
        round_to=ROUND_SCORE,
        payload_cols=("label",),
    )


_JLR_DIM, _JLR_SHORTLIST = 32, 200


@_register(
    "ann_jl_recall_gate",
    f"""
WITH px AS (
  SELECT e.vec_id, j.j AS j,
         SUM(CAST(round(e.embedding[i.i + 1]::DOUBLE * 1000000) AS BIGINT) *
             CASE WHEN ('0x' || substr(md5('{_JL_SEED}_' || i.i || '_' || j.j), 1, 1))::INT % 2 = 0
                  THEN 1 ELSE -1 END) AS p
  FROM embeddings e
  CROSS JOIN range(0, {_JL_IN}) i(i)
  CROSS JOIN range(0, {_JLR_DIM}) j(j)
  GROUP BY 1, 2
),
q AS (SELECT j, p AS qp FROM px WHERE vec_id = 0),
jsc AS (
  SELECT px.vec_id,
         ROUND(SUM(px.p * q.qp) / (sqrt(SUM(px.p * px.p)) * sqrt(SUM(q.qp * q.qp))), 6) AS jscore
  FROM px JOIN q ON px.j = q.j
  GROUP BY 1
  HAVING SUM(px.p * px.p) > 0
),
short AS (
  SELECT vec_id FROM jsc ORDER BY jscore DESC, vec_id ASC LIMIT {_JLR_SHORTLIST}
),
qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
rer AS (
  SELECT e.vec_id,
         ROUND(list_cosine_similarity(e.embedding::DOUBLE[], qv.v), 6) AS score
  FROM embeddings e JOIN short s ON e.vec_id = s.vec_id CROSS JOIN qv
  ORDER BY score DESC, e.vec_id ASC
  LIMIT 10
),
exact AS (
  SELECT e.vec_id
  FROM embeddings e CROSS JOIN qv
  WHERE list_cosine_similarity(e.embedding::DOUBLE[], qv.v) IS NOT NULL
  ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], qv.v), 6) DESC, e.vec_id ASC
  LIMIT 10
)
SELECT CAST(10 AS BIGINT) AS k,
       ROUND(COUNT(*) / 10.0, 6) AS recall
FROM rer JOIN exact ON rer.vec_id = exact.vec_id
""",
)
def ann_jl_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage JL retrieval quality gate: 32-dim projected shortlist-200
    → exact cosine re-rank top-10, recall vs brute-force top-10 (0.9 at
    sf0.01 — the recall number itself is hash-checked; answer quality is
    part of the contract, not a claim). The shortlist stage halves
    bytes-per-row; the re-rank touches 200 rows. Near-tied corpora want
    wider projections/shortlists — the dim-16/50 sweep measured 0.4."""
    from whatsapp_vectordb_spark.operators.projection import jl_project
    from whatsapp_vectordb_spark.operators.search import topk

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    proj = jl_project(emb, _JL_IN, _JLR_DIM, seed=_JL_SEED)
    qrow = proj.where(F.col("vec_id") == 0).head()
    qproj = [int(v) for v in qrow["proj"]]
    nq = sum(v * v for v in qproj)
    qcol = F.lit(qproj).cast("array<long>")
    dot = F.aggregate(
        F.zip_with(F.col("proj"), qcol, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    nv = F.aggregate(
        F.zip_with(F.col("proj"), F.col("proj"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    short = (
        proj.select(
            "vec_id",
            F.round(
                dot.cast("double")
                / (F.sqrt(nv.cast("double")) * F.sqrt(F.lit(float(nq)))),
                6,
            ).alias("jscore"),
            nv.alias("_nv"),
        )
        .where(F.col("_nv") > 0)
        .orderBy(F.col("jscore").desc(), F.col("vec_id").asc())
        .limit(_JLR_SHORTLIST)
        .select("vec_id")
    )
    qvec = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") == 0).head()[
        "embedding"
    ]
    rer = topk(
        emb.join(F.broadcast(short), "vec_id"), qvec, k=10, round_to=ROUND_SCORE
    ).select("vec_id")
    exact = topk(emb, qvec, k=10, round_to=ROUND_SCORE).select("vec_id")
    return (
        rer.join(exact, "vec_id")
        .agg(F.count("*").alias("hits"))
        .select(
            F.lit(10).cast("long").alias("k"),
            F.round(F.col("hits").cast("double") / F.lit(10.0), 6).alias("recall"),
        )
    )


# ==========================================================================
# Round 4: MMR diversity re-rank (operators/search.py mmr_rerank) — greedy
# λ-tradeoff selection over an integer-quantized shortlist; the oracle
# unrolls the k greedy steps as chained CTEs (each step = one argmax).
# ==========================================================================


def _mmr_oracle(k: int = 5, shortlist: int = 20, lam: int = 7) -> str:
    steps = []
    for n in range(1, k + 1):
        prev = [f"p{m}" for m in range(1, n)]
        if prev:
            gmax = "GREATEST(" + ", ".join(
                f"(SELECT s FROM sim WHERE ia = c.vec_id AND ib = {p}.vec_id)"
                for p in prev
            ) + ")" if len(prev) > 1 else (
                f"(SELECT s FROM sim WHERE ia = c.vec_id AND ib = p1.vec_id)"
            )
            notin = " AND ".join(f"c.vec_id <> {p}.vec_id" for p in prev)
            steps.append(f"""
p{n} AS (
  SELECT c.vec_id, {lam} * c.rel - {10 - lam} * {gmax} AS score
  FROM cand c, {", ".join(prev)}
  WHERE {notin}
  ORDER BY score DESC, c.vec_id ASC LIMIT 1
)""")
        else:
            steps.append(f"""
p1 AS (
  SELECT vec_id, {lam} * rel AS score
  FROM cand ORDER BY score DESC, vec_id ASC LIMIT 1
)""")
    selects = "\nUNION ALL\n".join(
        f"SELECT {n} AS rank, vec_id, score AS mmr_score10 FROM p{n}"
        for n in range(1, k + 1)
    )
    step_ctes = ",\n".join(s.lstrip() for s in steps)
    return f"""
WITH qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
cand AS (
  SELECT e.vec_id, e.embedding,
         CAST(round(list_cosine_similarity(e.embedding::DOUBLE[], qv.v) * 1000000) AS BIGINT) AS rel
  FROM embeddings e CROSS JOIN qv
  WHERE list_cosine_similarity(e.embedding::DOUBLE[], qv.v) IS NOT NULL
  ORDER BY rel DESC, e.vec_id ASC LIMIT {shortlist}
),
sim AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         CAST(round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) * 1000000) AS BIGINT) AS s
  FROM cand a CROSS JOIN cand b
),
{step_ctes}
SELECT CAST(rank AS BIGINT) AS rank, vec_id, mmr_score10 FROM ({selects})
"""


@_register("knn_mmr_rerank", _mmr_oracle())
def knn_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware top-5 via MMR (λ=0.7) over the exact top-20
    shortlist — the redundancy filter plain cosine top-k lacks. Integer
    micro-unit scores make the greedy engine-exact; the oracle replays
    each greedy step as an unrolled argmax CTE."""
    from whatsapp_vectordb_spark.operators.search import mmr_rerank

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    return mmr_rerank(emb, qvec, k=5, shortlist=20, lam_tenths=7)


# ==========================================================================
# Round 4: grouped (per-label) kNN — partitioned vector search: top-3 per
# label in ONE pass (window rank within label), not one query per label.
# ==========================================================================


@_register(
    "knn_topk_per_label",
    """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT label, vec_id, score
FROM (
  SELECT e.label, e.vec_id,
         ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS score,
         row_number() OVER (
           PARTITION BY e.label
           ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) DESC,
                    e.vec_id ASC
         ) AS rk
  FROM embeddings e, q
  WHERE list_cosine_similarity(e.embedding::DOUBLE[], q.qv) IS NOT NULL
)
WHERE rk <= 3
""",
)
def knn_topk_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped vector search: the 3 nearest neighbors WITHIN each label in
    one pass — score map-side, one shuffle by label, per-partition rank.
    The shape for 'best matches per tenant/namespace/category' that would
    otherwise be |labels| separate queries."""
    from whatsapp_vectordb_spark.functions.vector import array_lit, cosine_similarity

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    qcol = array_lit(qvec, "double")
    scored = emb.select(
        "label",
        "vec_id",
        F.round(cosine_similarity(F.col("embedding"), qcol), 6).alias("score"),
    ).where(F.col("score").isNotNull())
    w = Window.partitionBy("label").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= 3)
        .select("label", "vec_id", "score")
    )


# ==========================================================================
# Round 4: hybrid search — BM25 keyword list + vector cosine list fused by
# Reciprocal Rank Fusion (Cormack et al. '09): score = Σ 1/(60+rank),
# integer-quantized per (list, rank) so the fuse is BIGINT-exact.
# ==========================================================================

_RRF_K = 60
_RRF_QUANT = 1_000_000_000


@_register(
    "hybrid_search_rrf",
    f"""
WITH toks AS (SELECT doc_id, {{toks}} AS tk FROM documents),
lens AS (SELECT doc_id, len(tk) AS dl FROM toks),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM lens),
postings AS (SELECT doc_id, unnest(tk) AS term FROM toks),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM postings
  WHERE term IN ('data', 'processing', 'scale') GROUP BY 1, 2
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
bm AS (
  SELECT t.doc_id,
         ROUND(SUM(
           ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * t.tf * 2.2
           / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
         ), 6) AS bm25
  FROM tf t
  JOIN dfreq d ON d.term = t.term
  JOIN lens l ON l.doc_id = t.doc_id
  CROSS JOIN stats s
  GROUP BY t.doc_id
),
kw AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r
  FROM bm ORDER BY bm25 DESC, doc_id ASC LIMIT 20
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
vs AS (
  SELECT e.vec_id AS doc_id,
         ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS score
  FROM embeddings e, q
  WHERE list_cosine_similarity(e.embedding::DOUBLE[], q.qv) IS NOT NULL
),
vec AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
  FROM vs ORDER BY score DESC, doc_id ASC LIMIT 20
),
fused AS (
  SELECT COALESCE(kw.doc_id, vec.doc_id) AS doc_id,
         COALESCE(CAST(round({_RRF_QUANT}.0 / ({_RRF_K} + kw.r)) AS BIGINT), 0)
         + COALESCE(CAST(round({_RRF_QUANT}.0 / ({_RRF_K} + vec.r)) AS BIGINT), 0) AS rrf_q
  FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id
)
SELECT doc_id, ROUND(rrf_q / {_RRF_QUANT}.0, 6) AS rrf
FROM fused
ORDER BY rrf_q DESC, doc_id ASC
LIMIT 10
""".format(toks=_TOKS.format(c="text")),
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: the BM25 keyword top-20 and the vector cosine
    top-20 fused by Reciprocal Rank Fusion — the standard keyword+vector
    combination (ids align across `documents` and `embeddings`). Each
    list's contribution quantizes to round(10⁹/(60+rank)) so the fused
    ordering is exact integer arithmetic."""
    from whatsapp_vectordb_spark.operators.search import topk
    from whatsapp_vectordb_spark.operators.textops import bm25_search

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]

    kw = bm25_search(docs, list(_BM25_TERMS), k1=1.2, b=0.75, top_n=20).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
        .alias("r_kw"),
    )
    vec = topk(emb, qvec, k=20, round_to=ROUND_SCORE).select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("vec_id").asc()))
        .alias("r_vec"),
    )
    rrf_of = lambda r: F.coalesce(  # noqa: E731
        F.round(F.lit(float(_RRF_QUANT)) / (F.lit(_RRF_K) + r)).cast("long"), F.lit(0)
    )
    fused = kw.join(vec, "doc_id", "full_outer").select(
        "doc_id", (rrf_of(F.col("r_kw")) + rrf_of(F.col("r_vec"))).alias("rrf_q")
    )
    return (
        fused.orderBy(F.col("rrf_q").desc(), F.col("doc_id").asc())
        .limit(10)
        .select("doc_id", F.round(F.col("rrf_q") / _RRF_QUANT, 6).alias("rrf"))
    )


@_register(
    "knn_label_propagation",
    """
WITH u AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
l AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 5 <> 0),
scored AS (
  SELECT u.vec_id, l.vec_id AS lid, l.label,
         CAST(round(list_cosine_similarity(u.embedding::DOUBLE[], l.embedding::DOUBLE[]) * 1000000) AS BIGINT) AS cos6
  FROM u CROSS JOIN l
),
top AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, lid ASC) AS rk
    FROM scored
  ) WHERE rk <= 5
),
v AS (SELECT vec_id, label, COUNT(*) AS votes FROM top GROUP BY 1, 2)
SELECT vec_id, label AS pred_label, votes FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY votes DESC, label ASC) AS vr
  FROM v
) WHERE vr = 1
""",
)
def knn_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote weak labeling: every 5th vector plays unlabeled,
    the rest are the broadcast labeled seed; k=5 neighbors by micro-unit
    cosine, deterministic rank and vote tiebreaks
    (operators/search.py knn_label_propagation)."""
    from whatsapp_vectordb_spark.operators.search import knn_label_propagation as _klp

    emb = _t(spark, sf_dir, "embeddings")
    unl = emb.where(F.col("vec_id") % 5 == 0).select("vec_id", "embedding")
    lab = emb.where(F.col("vec_id") % 5 != 0).select("vec_id", "embedding", "label")
    return _klp(unl, lab, k=5)


# ==========================================================================
# Round 5 (batch 2): Matryoshka prefix retrieval + recall gate, CCNet
# perplexity buckets over the grouped distributed prefix sum, index
# compaction as an oracle-checked lifecycle query.
# ==========================================================================

_MRL_DIM = 16
_MRL_SHORT = 50


@_register(
    "ann_mrl_topk",
    f"""
WITH q AS (SELECT embedding[1:{_MRL_DIM}]::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       ROUND(list_cosine_similarity(e.embedding[1:{_MRL_DIM}]::DOUBLE[], q.qv), 6) AS score
FROM embeddings e CROSS JOIN q
WHERE list_cosine_similarity(e.embedding[1:{_MRL_DIM}]::DOUBLE[], q.qv) IS NOT NULL
ORDER BY score DESC, e.vec_id ASC
LIMIT 10
""",
)
def ann_mrl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka prefix-cosine top-10 (first 16 of 64 dims): the
    zero-cost dimensionality reduction — a slice, no projection matrix —
    that MRL-trained embedders are built for. Map-only scoring +
    TakeOrderedAndProject, 4× fewer multiply-adds per row
    (operators/projection.py mrl_truncate)."""
    from whatsapp_vectordb_spark.operators.projection import mrl_truncate
    from whatsapp_vectordb_spark.operators.search import topk

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    trunc = mrl_truncate(emb, _MRL_DIM)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"][:_MRL_DIM]
    return topk(trunc, qvec, k=10, round_to=ROUND_SCORE, vec_col="mrl_vec")


@_register(
    "ann_mrl_recall_gate",
    f"""
WITH q16 AS (SELECT embedding[1:{_MRL_DIM}]::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
short AS (
  SELECT e.vec_id
  FROM embeddings e CROSS JOIN q16
  WHERE list_cosine_similarity(e.embedding[1:{_MRL_DIM}]::DOUBLE[], q16.qv) IS NOT NULL
  ORDER BY ROUND(list_cosine_similarity(e.embedding[1:{_MRL_DIM}]::DOUBLE[], q16.qv), 6) DESC,
           e.vec_id ASC
  LIMIT {_MRL_SHORT}
),
qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
rer AS (
  SELECT e.vec_id
  FROM embeddings e JOIN short s ON e.vec_id = s.vec_id CROSS JOIN qv
  ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], qv.v), 6) DESC, e.vec_id ASC
  LIMIT 10
),
exact AS (
  SELECT e.vec_id
  FROM embeddings e CROSS JOIN qv
  WHERE list_cosine_similarity(e.embedding::DOUBLE[], qv.v) IS NOT NULL
  ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], qv.v), 6) DESC, e.vec_id ASC
  LIMIT 10
)
SELECT CAST(10 AS BIGINT) AS k,
       ROUND(COUNT(*) / 10.0, 6) AS recall
FROM rer JOIN exact ON rer.vec_id = exact.vec_id
""",
)
def ann_mrl_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage Matryoshka gate: prefix-16 shortlist-50 → exact full-dim
    re-rank top-10, recall vs brute force — measures what the prefix
    truncation costs on THIS corpus (synthetic, not MRL-trained, so the
    gate is the honest contract, same as the JL gate)."""
    from whatsapp_vectordb_spark.operators.projection import mrl_truncate
    from whatsapp_vectordb_spark.operators.search import topk

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    trunc = mrl_truncate(emb, _MRL_DIM)
    qfull = emb.where(F.col("vec_id") == 0).head()["embedding"]
    short = topk(
        trunc, qfull[:_MRL_DIM], k=_MRL_SHORT, round_to=ROUND_SCORE, vec_col="mrl_vec"
    ).select("vec_id")
    rer = topk(
        emb.join(F.broadcast(short), "vec_id"), qfull, k=10, round_to=ROUND_SCORE
    ).select("vec_id")
    exact = topk(emb, qfull, k=10, round_to=ROUND_SCORE).select("vec_id")
    return (
        rer.join(exact, "vec_id")
        .agg(F.count("*").alias("hits"))
        .select(
            F.lit(10).cast("long").alias("k"),
            F.round(F.col("hits").cast("double") / F.lit(10.0), 6).alias("recall"),
        )
    )


# ==========================================================================
# Round 5 (batch 4): sign-bit binary quantization (BQ) — 1-bit/dim
# signatures, XOR+popcount Hamming scan, exact re-rank recall gate.
# ==========================================================================

_BQ_SHORT = 64

_BQ_SIGS = """
sigs AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN i.i < 32 AND embedding[i.i + 1] > 0
                       THEN (1::BIGINT << i.i) ELSE 0 END) AS BIGINT) AS lo,
         CAST(SUM(CASE WHEN i.i >= 32 AND embedding[i.i + 1] > 0
                       THEN (1::BIGINT << (i.i - 32)) ELSE 0 END) AS BIGINT) AS hi
  FROM embeddings CROSS JOIN range(0, 64) i(i)
  GROUP BY 1
),
qsig AS (SELECT lo AS qlo, hi AS qhi FROM sigs WHERE vec_id = 0),
ham AS (
  SELECT s.vec_id,
         CAST(bit_count(xor(s.lo, q.qlo)) + bit_count(xor(s.hi, q.qhi)) AS BIGINT) AS hamming
  FROM sigs s CROSS JOIN qsig q
)
"""


@_register(
    "ann_binary_topk",
    f"""
WITH {_BQ_SIGS}
SELECT vec_id, hamming FROM ham
ORDER BY hamming ASC, vec_id ASC
LIMIT 10
""",
)
def ann_binary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization top-10: sign-bit signatures (8 bytes/vector,
    32× smaller than float32), distance = two XOR+popcount — the
    cheapest first-stage vector scan there is, integer-exact in both
    engines (operators/ann.py binary_hamming_topk)."""
    from whatsapp_vectordb_spark.operators.ann import binary_hamming_topk

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    return binary_hamming_topk(emb, qvec, k=10, dim=64)


@_register(
    "ann_binary_recall_gate",
    f"""
WITH {_BQ_SIGS},
short AS (SELECT vec_id FROM ham ORDER BY hamming ASC, vec_id ASC LIMIT {_BQ_SHORT}),
qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
rer AS (
  SELECT e.vec_id
  FROM embeddings e JOIN short s ON e.vec_id = s.vec_id CROSS JOIN qv
  ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], qv.v), 6) DESC, e.vec_id ASC
  LIMIT 10
),
exact AS (
  SELECT e.vec_id
  FROM embeddings e CROSS JOIN qv
  WHERE list_cosine_similarity(e.embedding::DOUBLE[], qv.v) IS NOT NULL
  ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], qv.v), 6) DESC, e.vec_id ASC
  LIMIT 10
)
SELECT CAST(10 AS BIGINT) AS k,
       ROUND(COUNT(*) / 10.0, 6) AS recall
FROM rer JOIN exact ON rer.vec_id = exact.vec_id
""",
)
def ann_binary_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BQ two-stage gate: Hamming shortlist-64 over 8-byte signatures →
    exact cosine re-rank top-10, recall vs brute force hash-checked —
    the scan reads 32× fewer bytes; the gate prices what the 1-bit
    compression costs on THIS corpus."""
    from whatsapp_vectordb_spark.operators.ann import binary_hamming_topk
    from whatsapp_vectordb_spark.operators.search import topk

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    short = binary_hamming_topk(emb, qvec, k=_BQ_SHORT, dim=64).select("vec_id")
    rer = topk(
        emb.join(F.broadcast(short), "vec_id"), qvec, k=10, round_to=ROUND_SCORE
    ).select("vec_id")
    exact = topk(emb, qvec, k=10, round_to=ROUND_SCORE).select("vec_id")
    return (
        rer.join(exact, "vec_id")
        .agg(F.count("*").alias("hits"))
        .select(
            F.lit(10).cast("long").alias("k"),
            F.round(F.col("hits").cast("double") / F.lit(10.0), 6).alias("recall"),
        )
    )


_IVF_SWEEP_DIR = _oracle_scratch("ivf_sweep_oracle")


@_register(
    "ann_ivf_nprobe_sweep",
    f"""
WITH cells AS (
  SELECT * FROM read_parquet('{_IVF_SWEEP_DIR}/cells/*/*.parquet', hive_partitioning = 1)
),
probes AS (
  SELECT nprobe, centroid FROM read_parquet('{_IVF_SWEEP_DIR}/probe/*.parquet')
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT p.nprobe, c.vec_id,
         ROUND(list_cosine_similarity(c.embedding::DOUBLE[], q.qv), 6) AS score
  FROM cells c
  JOIN probes p ON CAST(c.centroid AS BIGINT) = CAST(p.centroid AS BIGINT)
  CROSS JOIN q
  WHERE list_cosine_similarity(c.embedding::DOUBLE[], q.qv) IS NOT NULL
),
ranked AS (
  SELECT nprobe, vec_id,
         ROW_NUMBER() OVER (PARTITION BY nprobe ORDER BY score DESC, vec_id ASC) AS rk
  FROM scored
),
approx AS (SELECT nprobe, vec_id FROM ranked WHERE rk <= 10),
exact AS (
  SELECT c.vec_id
  FROM cells c CROSS JOIN q
  WHERE list_cosine_similarity(c.embedding::DOUBLE[], q.qv) IS NOT NULL
  ORDER BY ROUND(list_cosine_similarity(c.embedding::DOUBLE[], q.qv), 6) DESC,
           c.vec_id ASC
  LIMIT 10
)
SELECT a.nprobe,
       CAST(COUNT(e.vec_id) AS BIGINT) AS hits,
       CAST(COUNT(e.vec_id) * 100000 AS BIGINT) AS recall_micro
FROM approx a LEFT JOIN exact e ON a.vec_id = e.vec_id
GROUP BY a.nprobe
""",
)
def ann_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/cost tradeoff curve for the IVF index: probe the SAME
    persisted partition-pruned index at nprobe ∈ {{1, 2, 4}} and report
    recall@10 vs the exact scan per setting — the evaluation every ANN
    deployment runs before picking its operating point. Probed centroid
    ids persist alongside the index so the oracle replays the identical
    sweep; recall is an integer (hits × 100000)."""
    from whatsapp_vectordb_spark.operators.ann import IvfIndex

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    IvfIndex.build_balanced(emb, n_centroids=8).save(_IVF_SWEEP_DIR)
    loaded = IvfIndex.load(spark, _IVF_SWEEP_DIR)

    sweep = (1, 2, 4)
    probe_rows = [
        (np_, int(c))
        for np_ in sweep
        for c in loaded.probe_centroid_ids(qvec, nprobe=np_)
    ]
    local_df(spark, probe_rows, "nprobe bigint, centroid bigint").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(_IVF_SWEEP_DIR, "probe"))

    approx = None
    for np_ in sweep:
        t = (
            loaded.probe(qvec, k=10, nprobe=np_, round_to=ROUND_SCORE)
            .select(F.lit(np_).cast("long").alias("nprobe"), "vec_id")
        )
        approx = t if approx is None else approx.unionByName(t)
    exact = topk(
        loaded.assigned.select("vec_id", "embedding"), qvec, k=10, round_to=ROUND_SCORE
    ).select("vec_id")
    return (
        approx.join(F.broadcast(exact).withColumn("_hit", F.lit(1)), "vec_id", "left")
        .groupBy("nprobe")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("hits"))
        .select(
            "nprobe",
            "hits",
            (F.col("hits") * F.lit(100000)).cast("long").alias("recall_micro"),
        )
    )


_MRL_SWEEP_DIMS = (8, 16, 32)


def _mrl_sweep_sql() -> str:
    blocks = []
    for d in _MRL_SWEEP_DIMS:
        blocks.append(
            f"""
SELECT {d} AS dim, vec_id FROM (
  SELECT e.vec_id
  FROM embeddings e
  CROSS JOIN (SELECT embedding[1:{d}]::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
  WHERE list_cosine_similarity(e.embedding[1:{d}]::DOUBLE[], q.qv) IS NOT NULL
  ORDER BY ROUND(list_cosine_similarity(e.embedding[1:{d}]::DOUBLE[], q.qv), 6) DESC,
           e.vec_id ASC
  LIMIT {_MRL_SHORT}
)"""
        )
    shorts = "\nUNION ALL\n".join(blocks)
    return f"""
WITH shorts AS ({shorts}),
qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
rer AS (
  SELECT s.dim, e.vec_id,
         ROW_NUMBER() OVER (
           PARTITION BY s.dim
           ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], qv.v), 6) DESC,
                    e.vec_id ASC
         ) AS rk
  FROM embeddings e JOIN shorts s ON e.vec_id = s.vec_id CROSS JOIN qv
),
approx AS (SELECT dim, vec_id FROM rer WHERE rk <= 10),
exact AS (
  SELECT e.vec_id
  FROM embeddings e CROSS JOIN qv
  WHERE list_cosine_similarity(e.embedding::DOUBLE[], qv.v) IS NOT NULL
  ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], qv.v), 6) DESC, e.vec_id ASC
  LIMIT 10
)
SELECT a.dim,
       CAST(COUNT(x.vec_id) AS BIGINT) AS hits,
       CAST(COUNT(x.vec_id) * 100000 AS BIGINT) AS recall_micro
FROM approx a LEFT JOIN exact x ON a.vec_id = x.vec_id
GROUP BY a.dim
"""


@_register("ann_mrl_dim_sweep", _mrl_sweep_sql())
def ann_mrl_dim_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka operating-point curve: recall@10 of the
    prefix-d shortlist-50 → exact re-rank pipeline for d ∈ {8, 16, 32}
    — how much prefix you can throw away before recall pays for it, the
    MRL twin of the IVF nprobe sweep. Integer recall (hits × 100000)."""
    from whatsapp_vectordb_spark.operators.projection import mrl_truncate
    from whatsapp_vectordb_spark.operators.search import topk

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qfull = emb.where(F.col("vec_id") == 0).head()["embedding"]
    exact = topk(emb, qfull, k=10, round_to=ROUND_SCORE).select("vec_id")
    approx = None
    for d in _MRL_SWEEP_DIMS:
        trunc = mrl_truncate(emb, d)
        short = topk(
            trunc, qfull[:d], k=_MRL_SHORT, round_to=ROUND_SCORE, vec_col="mrl_vec"
        ).select("vec_id")
        rer = topk(
            emb.join(F.broadcast(short), "vec_id"), qfull, k=10, round_to=ROUND_SCORE
        ).select(F.lit(d).cast("long").alias("dim"), "vec_id")
        approx = rer if approx is None else approx.unionByName(rer)
    return (
        approx.join(F.broadcast(exact).withColumn("_hit", F.lit(1)), "vec_id", "left")
        .groupBy("dim")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("hits"))
        .select(
            "dim",
            "hits",
            (F.col("hits") * F.lit(100000)).cast("long").alias("recall_micro"),
        )
    )


_IVF_BATCH_DIR = _oracle_scratch("ivf_batch_oracle")


@_register(
    "ann_ivf_batched",
    f"""
WITH cells AS (
  SELECT * FROM read_parquet('{_IVF_BATCH_DIR}/cells/*/*.parquet', hive_partitioning = 1)
),
probes AS (
  SELECT query_id, centroid FROM read_parquet('{_IVF_BATCH_DIR}/probe/*.parquet')
),
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id IN (0, 1, 2)
),
scored AS (
  SELECT p.query_id, c.vec_id,
         ROUND(list_cosine_similarity(c.embedding::DOUBLE[], q.qv), 6) AS score
  FROM cells c
  JOIN probes p ON CAST(c.centroid AS BIGINT) = p.centroid
  JOIN q ON q.query_id = p.query_id
  WHERE list_cosine_similarity(c.embedding::DOUBLE[], q.qv) IS NOT NULL
),
ranked AS (
  SELECT query_id, vec_id, score,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, vec_id ASC
         ) AS rk
  FROM scored
)
SELECT query_id, vec_id, score FROM ranked WHERE rk <= 5
""",
)
def ann_ivf_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF probe: 3 queries answered in ONE pass over the union
    of their probed cells (IvfIndex.probe_batched) — per-query rescans of
    shared cells are the thing a 1000-query batch can't afford. The
    (query, centroid) probe map persists next to the index so the oracle
    replays the identical pruning."""
    from whatsapp_vectordb_spark.operators.ann import IvfIndex

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    IvfIndex.build_balanced(emb, n_centroids=8).save(_IVF_BATCH_DIR)
    loaded = IvfIndex.load(spark, _IVF_BATCH_DIR)
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.where(F.col("vec_id").isin(0, 1, 2)).collect()
    ]
    probe_rows = [
        (int(qid), int(c))
        for qid, vec in queries
        for c in loaded.probe_centroid_ids(vec, nprobe=2)
    ]
    local_df(spark, probe_rows, "query_id long, centroid bigint").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(_IVF_BATCH_DIR, "probe"))
    return loaded.probe_batched(queries, k=5, nprobe=2, round_to=ROUND_SCORE)


# LSH recall gate: same candidate machinery as ann_lsh_topk, plus the
# exact-scan comparison — completes the recall-gate family (IVF-PQ, JL,
# MRL, BQ, now LSH): every ANN tier's answer QUALITY is itself gated.
_ANN_LSH_GATE_ORACLE = (
    _ANN_LSH_ORACLE.split("SELECT e.vec_id,")[0].rstrip().rstrip(")")
    + """),
lsh10 AS (
  SELECT e.vec_id
  FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id CROSS JOIN q
  WHERE list_cosine_similarity(e.embedding::DOUBLE[], q.qv) IS NOT NULL
  ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) DESC,
           e.vec_id ASC
  LIMIT 10
),
exact AS (
  SELECT e.vec_id
  FROM embeddings e CROSS JOIN q
  WHERE list_cosine_similarity(e.embedding::DOUBLE[], q.qv) IS NOT NULL
  ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) DESC,
           e.vec_id ASC
  LIMIT 10
)
SELECT CAST(10 AS BIGINT) AS k,
       ROUND(COUNT(*) / 10.0, 6) AS recall
FROM lsh10 JOIN exact ON lsh10.vec_id = exact.vec_id
"""
)


@_register("ann_lsh_recall_gate", _ANN_LSH_GATE_ORACLE)
def ann_lsh_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the bucket-pruned LSH search vs the exact scan —
    the last ANN tier whose answer quality wasn't itself oracle-gated.
    Candidates come from the identical banded-signature machinery as
    ann_lsh_topk; recall is the top-10 intersection size / 10."""
    from whatsapp_vectordb_spark.operators.ann import portable_lsh_topk
    from whatsapp_vectordb_spark.operators.search import topk

    emb = _t(spark, sf_dir, "embeddings")
    lsh10 = portable_lsh_topk(
        emb, query_id=0, k=10, n_planes=16, bands=4, seed=0,
        round_to=ROUND_SCORE, dim=64,
    ).select("vec_id")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    exact = topk(
        emb.select("vec_id", "embedding"), qvec, k=10, round_to=ROUND_SCORE
    ).select("vec_id")
    return (
        lsh10.join(exact, "vec_id")
        .agg(F.count("*").alias("hits"))
        .select(
            F.lit(10).cast("long").alias("k"),
            F.round(F.col("hits").cast("double") / F.lit(10.0), 6).alias("recall"),
        )
    )


# Round 7: PORTABLE IVF — build AND probe under one fully-analytic oracle.
# Every other IVF oracle replays the probe over Spark-persisted centroids
# (MLlib k-means isn't SQL-reproducible); here the coarse quantizer is the
# integer-exact kmeans_lloyd, so the DuckDB oracle unrolls the BUILD
# (seeds → 2 Lloyd iterations), reassigns every vector, picks the nprobe
# probe cells by the same quantized distance, and ranks the probed cells'
# members by rounded cosine — zero persisted state, no circularity.
_IVFP_NPROBE = 2


def _kmeans_prefix_sql(k: int, iters: int, scale: int, dim: int) -> str:
    parts = [
        f"""q AS (
  SELECT vec_id, i.i AS pos,
         CAST(round(embedding[i.i + 1]::DOUBLE * {scale}) AS BIGINT) AS qv
  FROM embeddings CROSS JOIN range(0, {dim}) i(i)
),
c0 AS (SELECT vec_id AS centroid, pos, qv AS qc FROM q WHERE vec_id < {k})"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""a{t} AS (
  SELECT vec_id, centroid FROM (
    SELECT vec_id, centroid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, centroid ASC) AS r
    FROM (SELECT v.vec_id, c.centroid, SUM((v.qv - c.qc) * (v.qv - c.qc)) AS d2
          FROM q v JOIN c{t - 1} c ON v.pos = c.pos GROUP BY 1, 2)
  ) WHERE r = 1
),
u{t} AS (
  SELECT a.centroid, q.pos,
         CAST(FLOOR(SUM(q.qv)::DOUBLE / COUNT(*) + 0.5) AS BIGINT) AS qc
  FROM a{t} a JOIN q ON q.vec_id = a.vec_id
  GROUP BY 1, 2
),
c{t} AS (
  SELECT p.centroid, p.pos, COALESCE(u.qc, p.qc) AS qc
  FROM c{t - 1} p LEFT JOIN u{t} u ON u.centroid = p.centroid AND u.pos = p.pos
)"""
        )
    parts.append(
        f"""afin AS (
  SELECT vec_id, centroid FROM (
    SELECT vec_id, centroid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, centroid ASC) AS r
    FROM (SELECT v.vec_id, c.centroid, SUM((v.qv - c.qc) * (v.qv - c.qc)) AS d2
          FROM q v JOIN c{iters} c ON v.pos = c.pos GROUP BY 1, 2)
  ) WHERE r = 1
)"""
    )
    return ",\n".join(parts)


@_register(
    "ann_ivf_portable_build_probe",
    f"""
WITH {_kmeans_prefix_sql(_KM_K, _KM_ITERS, _KM_SCALE, 64)},
qq AS (SELECT pos, qv FROM q WHERE vec_id = 0),
pd AS (
  SELECT c.centroid, SUM((qq.qv - c.qc) * (qq.qv - c.qc)) AS d2
  FROM c{_KM_ITERS} c JOIN qq ON qq.pos = c.pos GROUP BY 1
),
probe AS (
  SELECT centroid FROM (
    SELECT centroid, ROW_NUMBER() OVER (ORDER BY d2 ASC, centroid ASC) AS r
    FROM pd
  ) WHERE r <= {_IVFP_NPROBE}
),
qvec AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
SELECT vec_id, score FROM (
  SELECT a.vec_id,
         ROUND(list_cosine_similarity(e.embedding::DOUBLE[], qvec.v), 6) AS score,
         ROW_NUMBER() OVER (
           ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], qvec.v), 6) DESC,
                    a.vec_id ASC
         ) AS r
  FROM afin a
  JOIN probe p ON p.centroid = a.centroid
  JOIN embeddings e ON e.vec_id = a.vec_id
  CROSS JOIN qvec
  WHERE list_cosine_similarity(e.embedding::DOUBLE[], qvec.v) IS NOT NULL
) WHERE r <= 10
""",
)
def ann_ivf_portable_build_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ANN with a replayable build: kmeans_lloyd trains the
    coarse quantizer (2 integer-exact Lloyd iterations), the corpus is
    assigned map-only against the final centroids, probe cells are the
    nprobe quantized-nearest centroids to the query (computed from the
    SAME plan-side quantization the oracle uses — the query's quantized
    components are read back from the assignment pass, never re-rounded
    driver-side), and the probed cells' members rank by rounded cosine.
    Scale shape: build = iters × (map-assign + k·d aggregate); probe =
    cell-pruned scan + TakeOrderedAndProject, same as IvfIndex.probe."""
    from whatsapp_vectordb_spark.operators.ann import kmeans_lloyd

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # explicit portable: this query's oracle replays the BUILD as unrolled
    # CTEs of the portable formula (production default is mapside)
    cents, assigned, _ = kmeans_lloyd(
        emb, k=_KM_K, iters=_KM_ITERS, scale=_KM_SCALE, update_mode="portable"
    )

    # query's quantized components, via the same F.round path as the build
    q0 = (
        emb.where(F.col("vec_id") == 0)
        .select(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * _KM_SCALE).cast("long"),
            ).alias("qv")
        )
        .head()["qv"]
    )
    ranked = sorted(
        (sum((a - b) ** 2 for a, b in zip(q0, qc)), cid) for cid, qc in cents
    )
    cells = [cid for _, cid in ranked[:_IVFP_NPROBE]]

    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    members = assigned.where(F.col("centroid").isin(cells)).select("vec_id")
    subset = emb.join(members, "vec_id")
    return topk(subset, qvec, k=10, round_to=6)


# Round 8: the SWEEP form of the fully-analytic IVF — recall vs candidate
# volume across nprobe ∈ {1, 2, 4}, with the BUILD in the oracle (the same
# unrolled Lloyd CTEs), so the whole operating curve is hash-checked with
# zero persisted state. This is the template that lets persisted-state
# sweep oracles be retired: any IVF tier whose quantizer is kmeans_lloyd
# can be replayed end to end.
_IVFP_SWEEP = (1, 2, 4)


def _ivf_portable_sweep_sql() -> str:
    probes = ", ".join(str(p) for p in _IVFP_SWEEP)
    return f"""
WITH {_kmeans_prefix_sql(_KM_K, _KM_ITERS, _KM_SCALE, 64)},
qq AS (SELECT pos, qv FROM q WHERE vec_id = 0),
pd AS (
  SELECT c.centroid, SUM((qq.qv - c.qc) * (qq.qv - c.qc)) AS d2
  FROM c{_KM_ITERS} c JOIN qq ON qq.pos = c.pos GROUP BY 1
),
pr AS (
  SELECT centroid, ROW_NUMBER() OVER (ORDER BY d2 ASC, centroid ASC) AS r FROM pd
),
qvec AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
np AS (SELECT UNNEST([{probes}]) AS nprobe),
cand AS (
  SELECT np.nprobe, a.vec_id
  FROM np JOIN pr ON pr.r <= np.nprobe
  JOIN afin a ON a.centroid = pr.centroid
),
exact AS (
  SELECT vec_id FROM (
    SELECT e.vec_id,
           ROW_NUMBER() OVER (
             ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], qvec.v), 6) DESC,
                      e.vec_id ASC
           ) AS r
    FROM embeddings e CROSS JOIN qvec
    WHERE list_cosine_similarity(e.embedding::DOUBLE[], qvec.v) IS NOT NULL
  ) WHERE r <= 10
),
appr AS (
  SELECT nprobe, vec_id FROM (
    SELECT c.nprobe, c.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY c.nprobe
             ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], qvec.v), 6) DESC,
                      c.vec_id ASC
           ) AS r
    FROM cand c
    JOIN embeddings e ON e.vec_id = c.vec_id
    CROSS JOIN qvec
    WHERE list_cosine_similarity(e.embedding::DOUBLE[], qvec.v) IS NOT NULL
  ) WHERE r <= 10
),
-- LEFT JOIN from np, counting cand.vec_id: an nprobe level whose probed
-- cells are ALL empty (a carried-forward empty centroid nearest the query)
-- must still yield a row (n_candidates=0, recall 0.0) to match the Spark
-- side's unconditional per-nprobe aggregate (ADVICE r8)
nc AS (
  SELECT np.nprobe, CAST(COUNT(c.vec_id) AS BIGINT) AS n_candidates
  FROM np LEFT JOIN cand c ON c.nprobe = np.nprobe
  GROUP BY 1
),
hits AS (
  SELECT a.nprobe, COUNT(*) AS h FROM appr a JOIN exact x ON x.vec_id = a.vec_id
  GROUP BY 1
)
SELECT CAST(nc.nprobe AS INTEGER) AS nprobe,
       nc.n_candidates,
       ROUND(COALESCE(hits.h, 0) / 10.0, 6) AS recall
FROM nc LEFT JOIN hits ON hits.nprobe = nc.nprobe
"""


@_register("ann_ivf_portable_nprobe_sweep", _ivf_portable_sweep_sql())
def ann_ivf_portable_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-vs-cost operating curve of the analytically-built IVF:
    for each nprobe, candidate count (the scan cost proxy) and recall@10
    of the probed top-10 against the exact top-10 — every number, build
    included, replayed by the oracle. One build feeds all probe levels;
    each probe is a cell-pruned membership join + TakeOrderedAndProject,
    and the recall join is over two ≤10-row frames."""
    from whatsapp_vectordb_spark.operators.ann import kmeans_lloyd

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # explicit portable: the sweep's oracle replays the BUILD (see
    # _ivf_portable_sweep_sql); production default is mapside
    cents, assigned, _ = kmeans_lloyd(
        emb, k=_KM_K, iters=_KM_ITERS, scale=_KM_SCALE, update_mode="portable"
    )

    q0 = (
        emb.where(F.col("vec_id") == 0)
        .select(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * _KM_SCALE).cast("long"),
            ).alias("qv")
        )
        .head()["qv"]
    )
    ranked = sorted(
        (sum((a - b) ** 2 for a, b in zip(q0, qc)), cid) for cid, qc in cents
    )
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    exact_ids = topk(emb, qvec, k=10, round_to=6).select("vec_id")

    rows = []
    for np_ in _IVFP_SWEEP:
        cells = [cid for _, cid in ranked[:np_]]
        members = assigned.where(F.col("centroid").isin(cells)).select("vec_id")
        appr = topk(emb.join(members, "vec_id"), qvec, k=10, round_to=6).select("vec_id")
        rows.append(
            members.agg(F.count("*").cast("long").alias("n_candidates"))
            .crossJoin(appr.join(exact_ids, "vec_id").agg(F.count("*").alias("_h")))
            .select(
                F.lit(np_).cast("int").alias("nprobe"),
                "n_candidates",
                F.round(F.col("_h").cast("double") / F.lit(10.0), 6).alias("recall"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# SQ8: the ONE quantization tier whose BUILD is analytic (per-dim
# min/max, one aggregate), so train + encode + integer-ADC scoring are
# all replayed by the oracle — no persisted state, no rows-only carve-out
# like the k-means-built tiers. The floor(z+0.5) half-up rule and the
# left-associated double products are written identically on both sides.
_SQ8_SQL = """
WITH ex AS (
  SELECT vec_id, unnest(embedding) AS x,
         unnest(range(1, len(embedding) + 1)) AS d
  FROM embeddings
),
stats AS (SELECT d, MIN(x::DOUBLE) AS mn, MAX(x::DOUBLE) AS mx FROM ex GROUP BY d),
sd AS (SELECT d, mn,
              CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS dl
       FROM stats),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
wgt AS (
  SELECT s.d, s.mn, s.dl,
         CAST(floor(qe[s.d]::DOUBLE * s.dl * 1000000000 + 0.5) AS BIGINT) AS w
  FROM sd s, q
),
scores AS (
  SELECT e.vec_id,
         SUM(LEAST(255, GREATEST(0,
               CAST(floor((e.x::DOUBLE - g.mn) / g.dl + 0.5) AS BIGINT))) * g.w
         ) AS score_int
  FROM ex e JOIN wgt g ON g.d = e.d
  GROUP BY e.vec_id
)
SELECT vec_id, CAST(score_int AS BIGINT) AS score_int
FROM scores ORDER BY score_int DESC, vec_id LIMIT 10
"""


@_register("ann_sq8_topk", _SQ8_SQL)
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit scalar quantization end-to-end: per-dim min/delta trained on
    the corpus, int8 codes, integer-weight ADC top-10 for the vec_id=0
    query — every stage inside the hash check."""
    from whatsapp_vectordb_spark.operators.ann import sq8_encode, sq8_topk, sq8_train

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mins, deltas = sq8_train(emb)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    codes = sq8_encode(emb, mins, deltas)
    return sq8_topk(codes, qvec, deltas, k=10)


# SQ8 shortlist → exact re-rank: stage 1 is the proven integer-ADC SQL,
# stage 2 the proven exact-dot SQL — the oracle replays BOTH, so a wrong
# shortlist cut, a broken semi-join, or a score from the quantized domain
# leaking into the output all break the hash.
_SQ8_RERANK_SQL = """
WITH ex AS (
  SELECT vec_id, unnest(embedding) AS x,
         unnest(range(1, len(embedding) + 1)) AS d
  FROM embeddings
),
stats AS (SELECT d, MIN(x::DOUBLE) AS mn, MAX(x::DOUBLE) AS mx FROM ex GROUP BY d),
sd AS (SELECT d, mn,
              CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS dl
       FROM stats),
qv8 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
wgt AS (
  SELECT s.d, s.mn, s.dl,
         CAST(floor(qe[s.d]::DOUBLE * s.dl * 1000000000 + 0.5) AS BIGINT) AS w
  FROM sd s, qv8
),
iscores AS (
  SELECT e.vec_id,
         SUM(LEAST(255, GREATEST(0,
               CAST(floor((e.x::DOUBLE - g.mn) / g.dl + 0.5) AS BIGINT))) * g.w
         ) AS score_int
  FROM ex e JOIN wgt g ON g.d = e.d
  GROUP BY e.vec_id
),
short AS (SELECT vec_id FROM iscores ORDER BY score_int DESC, vec_id LIMIT 100),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv), 6) AS score
FROM embeddings e JOIN short s ON s.vec_id = e.vec_id CROSS JOIN q
WHERE list_dot_product(e.embedding::DOUBLE[], q.qv) IS NOT NULL
ORDER BY score DESC, e.vec_id ASC
LIMIT 10
"""


@_register("ann_sq8_rerank_topk", _SQ8_RERANK_SQL)
def ann_sq8_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 integer-ADC shortlist (top-100 over the codes table only) →
    exact dot re-rank of just those 100 float vectors — the two-stage
    production serving shape, both stages inside the hash check. At
    100 TB the float table contributes 100 point reads per query; the
    scan is entirely on the compressed codes."""
    from whatsapp_vectordb_spark.operators.ann import (
        sq8_encode,
        sq8_rerank_topk,
        sq8_train,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mins, deltas = sq8_train(emb)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    codes = sq8_encode(emb, mins, deltas)
    return sq8_rerank_topk(codes, emb, qvec, deltas, k=10, shortlist=100)


_IVFSQ8_NPROBE = 2
_IVF_SQ8_DIR = _oracle_scratch("ivf_sq8")

# IVF-SQ8: the one COMPOSITE index tier whose every stage is analytic —
# the Lloyd coarse quantizer (integer-exact, the _kmeans_prefix_sql
# machinery) picks the probed cells, and the SQ8 integer ADC scores only
# their members. Unlike the IVF-PQ rows (whose k-means build is persisted
# state the oracle reads back), build + train + encode + prune + score
# here replay end-to-end from the raw table. The kmeans prefix already
# binds CTE name `q` (per-dim quantized vectors), so the SQ8 query-vector
# CTE is `qv8` here.


def _ivf_sq8_sql() -> str:
    return f"""
WITH {_kmeans_prefix_sql(_KM_K, _KM_ITERS, _KM_SCALE, 64)},
qq AS (SELECT pos, qv FROM q WHERE vec_id = 0),
pd AS (
  SELECT c.centroid, SUM((qq.qv - c.qc) * (qq.qv - c.qc)) AS d2
  FROM c{_KM_ITERS} c JOIN qq ON qq.pos = c.pos GROUP BY 1
),
pr AS (
  SELECT centroid FROM (
    SELECT centroid, ROW_NUMBER() OVER (ORDER BY d2 ASC, centroid ASC) AS r
    FROM pd
  ) WHERE r <= {_IVFSQ8_NPROBE}
),
cand AS (SELECT a.vec_id FROM afin a JOIN pr ON pr.centroid = a.centroid),
ex AS (
  SELECT vec_id, unnest(embedding) AS x,
         unnest(range(1, len(embedding) + 1)) AS d
  FROM embeddings
),
stats AS (SELECT d, MIN(x::DOUBLE) AS mn, MAX(x::DOUBLE) AS mx FROM ex GROUP BY d),
sd AS (SELECT d, mn,
              CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS dl
       FROM stats),
qv8 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
wgt AS (
  SELECT s.d, s.mn, s.dl,
         CAST(floor(qe[s.d]::DOUBLE * s.dl * 1000000000 + 0.5) AS BIGINT) AS w
  FROM sd s, qv8
),
scores AS (
  SELECT e.vec_id,
         SUM(LEAST(255, GREATEST(0,
               CAST(floor((e.x::DOUBLE - g.mn) / g.dl + 0.5) AS BIGINT))) * g.w
         ) AS score_int
  FROM ex e
  JOIN cand ON cand.vec_id = e.vec_id
  JOIN wgt g ON g.d = e.d
  GROUP BY e.vec_id
)
SELECT vec_id, CAST(score_int AS BIGINT) AS score_int
FROM scores ORDER BY score_int DESC, vec_id LIMIT 10
"""


@_register("ann_ivf_sq8_topk", _ivf_sq8_sql())
def ann_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 composite: portable Lloyd coarse quantizer → SQ8 codes
    persisted ``partitionBy(centroid)`` (the deployed layout) → probe the
    {nprobe} nearest cells by integer centroid distance → exact integer
    dot ADC over only those cells' codes. Build, train, encode, prune,
    and score ALL inside the hash check — no persisted-state carve-out.
    At 100 TB: probed bytes = (nprobe/k) of a 4×-compressed codes table,
    file-level partition pruning, float vectors never load."""
    from whatsapp_vectordb_spark.operators.ann import (
        ivf_sq8_topk,
        kmeans_lloyd,
        sq8_encode,
        sq8_train,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents, assigned, _ = kmeans_lloyd(
        emb, k=_KM_K, iters=_KM_ITERS, scale=_KM_SCALE,
        # mapside update (r17 optimization): bit-identical to the
        # portable formula the oracle unrolls (pinned by the shared
        # cluster_kmeans_mapside oracle row, tests/test_ann.py parity,
        # and stress_ann_curve --kmeans-compare at scale) but each
        # iteration shuffles k*d*partitions partial rows instead of
        # joining the N*d exploded components (guide: shuffle fewer
        # bytes / aggregate before you shuffle)
        update_mode="mapside"
    )
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    # quantized query via the SAME Spark expression the oracle replays
    # (F.round is HALF_UP; Python round is banker's — don't swap them)
    q0 = (
        emb.where(F.col("vec_id") == 0)
        .select(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * _KM_SCALE).cast("long"),
            ).alias("qv")
        )
        .head()["qv"]
    )
    ranked = sorted(
        (sum((a - b) ** 2 for a, b in zip(q0, qc)), cid) for cid, qc in cents
    )
    cells = [cid for _, cid in ranked[:_IVFSQ8_NPROBE]]

    mins, deltas = sq8_train(emb)
    codes = sq8_encode(emb, mins, deltas).join(
        assigned.select("vec_id", "centroid"), "vec_id"
    )
    path = os.path.join(_IVF_SQ8_DIR, "codes")
    _cluster_for_write(codes).write.partitionBy("centroid").mode("overwrite").parquet(path)
    return ivf_sq8_topk(spark.read.parquet(path), cells, qvec, deltas, k=10)


_IVF_SQ8_RR_DIR = _oracle_scratch("ivf_sq8_rerank")
_IVFSQ8_SHORTLIST = 100

# The FULL production serving stack in one row (FAISS IVFx,SQ8 + refine):
# Lloyd cell pruning → integer-ADC shortlist over codes only → exact dot
# re-rank of just the shortlist. Every stage is analytic, so the oracle
# replays build + train + encode + PRUNE + SHORTLIST + RE-RANK end-to-end
# — a wrong cell cut, a shortlist off-by-one, or a quantized score
# leaking into the exact output all break the hash. The kmeans prefix
# binds `q`; the exact-rerank query CTE is `q2` here.


def _ivf_sq8_rerank_sql() -> str:
    return f"""
WITH {_kmeans_prefix_sql(_KM_K, _KM_ITERS, _KM_SCALE, 64)},
qq AS (SELECT pos, qv FROM q WHERE vec_id = 0),
pd AS (
  SELECT c.centroid, SUM((qq.qv - c.qc) * (qq.qv - c.qc)) AS d2
  FROM c{_KM_ITERS} c JOIN qq ON qq.pos = c.pos GROUP BY 1
),
pr AS (
  SELECT centroid FROM (
    SELECT centroid, ROW_NUMBER() OVER (ORDER BY d2 ASC, centroid ASC) AS r
    FROM pd
  ) WHERE r <= {_IVFSQ8_NPROBE}
),
cand AS (SELECT a.vec_id FROM afin a JOIN pr ON pr.centroid = a.centroid),
ex AS (
  SELECT vec_id, unnest(embedding) AS x,
         unnest(range(1, len(embedding) + 1)) AS d
  FROM embeddings
),
stats AS (SELECT d, MIN(x::DOUBLE) AS mn, MAX(x::DOUBLE) AS mx FROM ex GROUP BY d),
sd AS (SELECT d, mn,
              CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS dl
       FROM stats),
qv8 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
wgt AS (
  SELECT s.d, s.mn, s.dl,
         CAST(floor(qe[s.d]::DOUBLE * s.dl * 1000000000 + 0.5) AS BIGINT) AS w
  FROM sd s, qv8
),
iscores AS (
  SELECT e.vec_id,
         SUM(LEAST(255, GREATEST(0,
               CAST(floor((e.x::DOUBLE - g.mn) / g.dl + 0.5) AS BIGINT))) * g.w
         ) AS score_int
  FROM ex e
  JOIN cand ON cand.vec_id = e.vec_id
  JOIN wgt g ON g.d = e.d
  GROUP BY e.vec_id
),
short AS (
  SELECT vec_id FROM iscores
  ORDER BY score_int DESC, vec_id LIMIT {_IVFSQ8_SHORTLIST}
),
q2 AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       ROUND(list_dot_product(e.embedding::DOUBLE[], q2.qv), 6) AS score
FROM embeddings e JOIN short s ON s.vec_id = e.vec_id CROSS JOIN q2
WHERE list_dot_product(e.embedding::DOUBLE[], q2.qv) IS NOT NULL
ORDER BY score DESC, e.vec_id ASC
LIMIT 10
"""


@_register("ann_ivf_sq8_rerank_topk", _ivf_sq8_rerank_sql())
def ann_ivf_sq8_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed FAISS-style serving stack (VERDICT r12 #3): portable
    Lloyd cells → SQ8 codes persisted ``partitionBy(centroid)`` → prune
    to the {nprobe} nearest cells (file-level PartitionFilters) →
    integer-ADC top-{shortlist} shortlist over ONLY those cells' codes →
    exact dot re-rank of the shortlist floats via broadcast semi-join.
    All six stages inside the hash check. At 100 TB this is the
    per-query cost model: (nprobe/k) of a 4×-compressed codes table
    scanned + {shortlist} float point-reads; exact final scores."""
    return _build_ivf_sq8_rerank(spark, sf_dir)


def _build_ivf_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared by the serving row and its recall gate: the full composed
    build + prune + shortlist + exact re-rank (deterministic end-to-end,
    so both rows may overwrite the same scratch layout)."""
    from whatsapp_vectordb_spark.operators.ann import (
        ivf_sq8_rerank_topk,
        kmeans_lloyd,
        sq8_encode,
        sq8_train,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents, assigned, _ = kmeans_lloyd(
        emb, k=_KM_K, iters=_KM_ITERS, scale=_KM_SCALE,
        # mapside update (r17 optimization): bit-identical to the
        # portable formula the oracle unrolls (pinned by the shared
        # cluster_kmeans_mapside oracle row, tests/test_ann.py parity,
        # and stress_ann_curve --kmeans-compare at scale) but each
        # iteration shuffles k*d*partitions partial rows instead of
        # joining the N*d exploded components (guide: shuffle fewer
        # bytes / aggregate before you shuffle)
        update_mode="mapside"
    )
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    q0 = (
        emb.where(F.col("vec_id") == 0)
        .select(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * _KM_SCALE).cast("long"),
            ).alias("qv")
        )
        .head()["qv"]
    )
    ranked = sorted(
        (sum((a - b) ** 2 for a, b in zip(q0, qc)), cid) for cid, qc in cents
    )
    cells = [cid for _, cid in ranked[:_IVFSQ8_NPROBE]]

    mins, deltas = sq8_train(emb)
    codes = sq8_encode(emb, mins, deltas).join(
        assigned.select("vec_id", "centroid"), "vec_id"
    )
    path = os.path.join(_IVF_SQ8_RR_DIR, "codes")
    _cluster_for_write(codes).write.partitionBy("centroid").mode("overwrite").parquet(path)
    return ivf_sq8_rerank_topk(
        spark.read.parquet(path),
        emb,
        cells,
        qvec,
        deltas,
        k=10,
        shortlist=_IVFSQ8_SHORTLIST,
    )


_IVF_SQ8_B_DIR = _oracle_scratch("ivf_sq8_batched")
_IVFSQ8_BATCH_QIDS = (0, 1, 2)

# Batched IVF-SQ8 (VERDICT r12 #6): N queries, ONE codes scan over the
# union of their probed cells, per-query integer weight LUTs, window
# rank. Fully analytic like the single-query composite — per-query cell
# selection (integer centroid distances), train, encode, prune, and the
# per-query ADC all replay in the oracle; no persisted-state carve-out.


def _ivf_sq8_batched_sql() -> str:
    qids = ", ".join(str(q) for q in _IVFSQ8_BATCH_QIDS)
    return f"""
WITH {_kmeans_prefix_sql(_KM_K, _KM_ITERS, _KM_SCALE, 64)},
qq AS (SELECT vec_id AS query_id, pos, qv FROM q WHERE vec_id IN ({qids})),
pd AS (
  SELECT qq.query_id, c.centroid, SUM((qq.qv - c.qc) * (qq.qv - c.qc)) AS d2
  FROM c{_KM_ITERS} c JOIN qq ON qq.pos = c.pos GROUP BY 1, 2
),
pr AS (
  SELECT query_id, centroid FROM (
    SELECT query_id, centroid,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY d2 ASC, centroid ASC
           ) AS r
    FROM pd
  ) WHERE r <= {_IVFSQ8_NPROBE}
),
cand AS (
  SELECT pr.query_id, a.vec_id FROM afin a JOIN pr ON pr.centroid = a.centroid
),
ex AS (
  SELECT vec_id, unnest(embedding) AS x,
         unnest(range(1, len(embedding) + 1)) AS d
  FROM embeddings
),
stats AS (SELECT d, MIN(x::DOUBLE) AS mn, MAX(x::DOUBLE) AS mx FROM ex GROUP BY d),
sd AS (SELECT d, mn,
              CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS dl
       FROM stats),
qv8 AS (
  SELECT vec_id AS query_id, embedding AS qe
  FROM embeddings WHERE vec_id IN ({qids})
),
wgt AS (
  SELECT v.query_id, s.d, s.mn, s.dl,
         CAST(floor(v.qe[s.d]::DOUBLE * s.dl * 1000000000 + 0.5) AS BIGINT) AS w
  FROM sd s CROSS JOIN qv8 v
),
scores AS (
  SELECT cd.query_id, e.vec_id,
         SUM(LEAST(255, GREATEST(0,
               CAST(floor((e.x::DOUBLE - g.mn) / g.dl + 0.5) AS BIGINT))) * g.w
         ) AS score_int
  FROM ex e
  JOIN cand cd ON cd.vec_id = e.vec_id
  JOIN wgt g ON g.d = e.d AND g.query_id = cd.query_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, vec_id, CAST(score_int AS BIGINT) AS score_int,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score_int DESC, vec_id ASC
         ) AS rk
  FROM scores
)
SELECT query_id, vec_id, score_int FROM ranked WHERE rk <= 5
"""


@_register("ann_ivf_sq8_batched_topk", _ivf_sq8_batched_sql())
def ann_ivf_sq8_batched_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF-SQ8 probe: 3 queries answered in ONE pass over the
    union of their probed cells — the per-query weight LUTs and the
    (query, cell) probe map broadcast, the 4×-compressed codes table is
    scanned once with file-level partition pruning, and ranking is one
    query_id-keyed window. Build + train + encode + per-query prune +
    per-query ADC all inside the hash check."""
    from whatsapp_vectordb_spark.operators.ann import (
        ivf_sq8_batched_topk,
        kmeans_lloyd,
        sq8_encode,
        sq8_train,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents, assigned, _ = kmeans_lloyd(
        emb, k=_KM_K, iters=_KM_ITERS, scale=_KM_SCALE,
        # mapside update (r17 optimization): bit-identical to the
        # portable formula the oracle unrolls (pinned by the shared
        # cluster_kmeans_mapside oracle row, tests/test_ann.py parity,
        # and stress_ann_curve --kmeans-compare at scale) but each
        # iteration shuffles k*d*partitions partial rows instead of
        # joining the N*d exploded components (guide: shuffle fewer
        # bytes / aggregate before you shuffle)
        update_mode="mapside"
    )
    qrows = (
        emb.where(F.col("vec_id").isin(*_IVFSQ8_BATCH_QIDS))
        .select(
            "vec_id",
            "embedding",
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * _KM_SCALE).cast("long"),
            ).alias("_qq"),
        )
        .collect()
    )
    queries = [(r["vec_id"], r["embedding"]) for r in qrows]
    probe_map = {}
    for r in qrows:
        ranked = sorted(
            (sum((a - b) ** 2 for a, b in zip(r["_qq"], qc)), cid)
            for cid, qc in cents
        )
        probe_map[r["vec_id"]] = [cid for _, cid in ranked[:_IVFSQ8_NPROBE]]

    mins, deltas = sq8_train(emb)
    codes = sq8_encode(emb, mins, deltas).join(
        assigned.select("vec_id", "centroid"), "vec_id"
    )
    path = os.path.join(_IVF_SQ8_B_DIR, "codes")
    _cluster_for_write(codes).write.partitionBy("centroid").mode("overwrite").parquet(path)
    return ivf_sq8_batched_topk(
        spark.read.parquet(path), queries, probe_map, deltas, k=5
    )


# Recall gate for the composed stack — completes the recall-gate family
# (IVF-PQ, JL, MRL, BQ, LSH, now IVF-SQ8+re-rank): the serving answer's
# QUALITY is itself hash-gated. Fully analytic like the serving row.


def _ivf_sq8_rerank_gate_sql() -> str:
    base = _ivf_sq8_rerank_sql()
    head = base.rsplit("SELECT e.vec_id,", 1)[0].rstrip()
    return f"""{head},
rr AS (
  SELECT e.vec_id,
         ROW_NUMBER() OVER (
           ORDER BY ROUND(list_dot_product(e.embedding::DOUBLE[], q2.qv), 6) DESC,
                    e.vec_id ASC
         ) AS r
  FROM embeddings e JOIN short s ON s.vec_id = e.vec_id CROSS JOIN q2
  WHERE list_dot_product(e.embedding::DOUBLE[], q2.qv) IS NOT NULL
),
approx AS (SELECT vec_id FROM rr WHERE r <= 10),
exact AS (
  SELECT e.vec_id FROM embeddings e CROSS JOIN q2
  WHERE list_dot_product(e.embedding::DOUBLE[], q2.qv) IS NOT NULL
  ORDER BY ROUND(list_dot_product(e.embedding::DOUBLE[], q2.qv), 6) DESC,
           e.vec_id ASC
  LIMIT 10
)
SELECT CAST(COUNT(x.vec_id) AS BIGINT) AS hits,
       CAST(COUNT(x.vec_id) * 100000 AS BIGINT) AS recall_micro
FROM approx a LEFT JOIN exact x ON a.vec_id = x.vec_id
"""


@_register("ann_ivf_sq8_rerank_recall_gate", _ivf_sq8_rerank_gate_sql())
def ann_ivf_sq8_rerank_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the composed serving stack vs the exact scan, as an
    integer (hits × 100000) — prune and quantization are the only loss
    sources and this row pins exactly how much they cost at the gate
    shape (nprobe=2 of 8 cells, shortlist 100)."""
    from whatsapp_vectordb_spark.operators.search import topk

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    approx = _build_ivf_sq8_rerank(spark, sf_dir).select("vec_id")
    exact = topk(emb, _q0_vec(spark, sf_dir), k=10, round_to=ROUND_SCORE,
                 metric="dotproduct").select("vec_id")
    return (
        approx.join(F.broadcast(exact).withColumn("_h", F.lit(1)), "vec_id", "left")
        .agg(F.sum(F.coalesce(F.col("_h"), F.lit(0))).cast("long").alias("hits"))
        .select(
            "hits",
            (F.col("hits") * F.lit(100000)).cast("long").alias("recall_micro"),
        )
    )


def _q0_vec(spark: SparkSession, sf_dir: str):
    emb = _t(spark, sf_dir, "embeddings")
    return emb.where(F.col("vec_id") == 0).head()["embedding"]


_IVF_SQ8_IDX_DIR = _oracle_scratch("ivf_sq8_index")

# The persisted serving ARTIFACT (IvfSq8Index): build -> save -> load ->
# search. The build's coarse quantizer is MLlib-or-portable (not oracle-
# replayable), so the oracle reads the SAVED codes layout + the persisted
# probe-cell choice — but recomputes the SQ8 scaler analytically from the
# raw table, which gates the artifact's save/load scaler roundtrip: a
# corrupted meta.json (or a stale codes dir) breaks the hash. Downstream
# of the build, prune + ADC + shortlist + exact re-rank replay fully.


@_register(
    "ann_ivf_sq8_index_serving",
    f"""
WITH codes AS (
  SELECT * FROM read_parquet('{_IVF_SQ8_IDX_DIR}/codes/*/*.parquet', hive_partitioning = 1)
),
probe AS (SELECT centroid FROM read_parquet('{_IVF_SQ8_IDX_DIR}/probe/*.parquet')),
exf AS (
  SELECT vec_id, unnest(embedding) AS x,
         unnest(range(1, len(embedding) + 1)) AS d
  FROM embeddings
),
stats AS (SELECT d, MIN(x::DOUBLE) AS mn, MAX(x::DOUBLE) AS mx FROM exf GROUP BY d),
sd AS (SELECT d,
              CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS dl
       FROM stats),
qv8 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
wgt AS (
  SELECT s.d,
         CAST(floor(qe[s.d]::DOUBLE * s.dl * 1000000000 + 0.5) AS BIGINT) AS w
  FROM sd s, qv8
),
exc AS (
  SELECT c.vec_id, unnest(c.sq8_codes) AS cd,
         unnest(range(1, len(c.sq8_codes) + 1)) AS d
  FROM codes c JOIN probe p ON CAST(c.centroid AS BIGINT) = p.centroid
),
iscores AS (
  SELECT e.vec_id, SUM(e.cd::BIGINT * g.w) AS score_int
  FROM exc e JOIN wgt g ON g.d = e.d
  GROUP BY e.vec_id
),
short AS (SELECT vec_id FROM iscores ORDER BY score_int DESC, vec_id LIMIT 50),
q2 AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       ROUND(list_dot_product(e.embedding::DOUBLE[], q2.qv), 6) AS score
FROM embeddings e JOIN short s ON s.vec_id = e.vec_id CROSS JOIN q2
WHERE list_dot_product(e.embedding::DOUBLE[], q2.qv) IS NOT NULL
ORDER BY score DESC, e.vec_id ASC
LIMIT 10
""",
)
def ann_ivf_sq8_index_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted serving artifact end-to-end: ``IvfSq8Index.build``
    (k-means++ + Lloyd quantizer fit on a bounded driver sample, with the
    ``build_portable`` mega-cell fallback, + analytic SQ8 scaler; codes
    and probe cells from one assignment pass) → ``save`` (codes
    partitionBy(centroid) + meta.json) → ``load`` → ``search`` (prune +
    integer-ADC shortlist-50 + exact re-rank). The oracle reads the
    saved codes + the persisted probe choice and recomputes the scaler
    analytically — a corrupted save/load roundtrip breaks the hash."""
    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    IvfSq8Index.build(emb, n_centroids=_KM_K).save(_IVF_SQ8_IDX_DIR)
    loaded = IvfSq8Index.load(spark, _IVF_SQ8_IDX_DIR)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    cells = loaded.probe_centroid_ids(qvec, nprobe=_IVFSQ8_NPROBE)
    local_df(spark, 
        [(int(c),) for c in cells], "centroid bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(_IVF_SQ8_IDX_DIR, "probe")
    )
    return loaded.search(
        emb, qvec, k=10, nprobe=_IVFSQ8_NPROBE, shortlist=50
    )


_IVF_SQ8_BRR_DIR = _oracle_scratch("ivf_sq8_batched_rr")
_IVFSQ8_BATCH_SHORT = 50

# Batched serving end-to-end: ONE codes scan -> per-query quantized
# shortlists -> ONE float pass exact-re-ranks them all. Still fully
# analytic: the oracle replays per-query prune + per-query integer-ADC
# shortlist + per-query exact re-rank on top of the kmeans build.


def _ivf_sq8_batched_rerank_sql() -> str:
    qids = ", ".join(str(q) for q in _IVFSQ8_BATCH_QIDS)
    base = _ivf_sq8_batched_sql()
    # reuse the batched CTE chain up to `scores`, swap the final select
    head = base.rsplit("ranked AS (", 1)[0].rstrip().rstrip(",")
    return f"""{head},
shortq AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY score_int DESC, vec_id ASC
           ) AS rs
    FROM scores
  ) WHERE rs <= {_IVFSQ8_BATCH_SHORT}
),
qvf AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id IN ({qids})
),
rer AS (
  SELECT s.query_id, e.vec_id,
         ROUND(list_dot_product(e.embedding::DOUBLE[], qvf.qv), 6) AS score
  FROM embeddings e
  JOIN shortq s ON s.vec_id = e.vec_id
  JOIN qvf ON qvf.query_id = s.query_id
  WHERE list_dot_product(e.embedding::DOUBLE[], qvf.qv) IS NOT NULL
),
rk AS (
  SELECT query_id, vec_id, score,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, vec_id ASC
         ) AS r
  FROM rer
)
SELECT query_id, vec_id, score FROM rk WHERE r <= 5
"""


@_register("ann_ivf_sq8_batched_rerank_topk", _ivf_sq8_batched_rerank_sql())
def ann_ivf_sq8_batched_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched serving end-to-end: 3 queries get quantized shortlists
    from ONE partition-pruned codes scan, then ONE float pass exact
    re-ranks all shortlists (the |Q|·shortlist pair set broadcasts; the
    vectors table never shuffles). Exact final scores; build + train +
    encode + per-query prune + shortlist + re-rank all inside the hash
    check."""
    from whatsapp_vectordb_spark.operators.ann import (
        ivf_sq8_batched_rerank_topk,
        kmeans_lloyd,
        sq8_encode,
        sq8_train,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents, assigned, _ = kmeans_lloyd(
        emb, k=_KM_K, iters=_KM_ITERS, scale=_KM_SCALE,
        # mapside update (r17 optimization): bit-identical to the
        # portable formula the oracle unrolls (pinned by the shared
        # cluster_kmeans_mapside oracle row, tests/test_ann.py parity,
        # and stress_ann_curve --kmeans-compare at scale) but each
        # iteration shuffles k*d*partitions partial rows instead of
        # joining the N*d exploded components (guide: shuffle fewer
        # bytes / aggregate before you shuffle)
        update_mode="mapside"
    )
    qrows = (
        emb.where(F.col("vec_id").isin(*_IVFSQ8_BATCH_QIDS))
        .select(
            "vec_id",
            "embedding",
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * _KM_SCALE).cast("long"),
            ).alias("_qq"),
        )
        .collect()
    )
    queries = [(r["vec_id"], r["embedding"]) for r in qrows]
    probe_map = {}
    for r in qrows:
        ranked = sorted(
            (sum((a - b) ** 2 for a, b in zip(r["_qq"], qc)), cid)
            for cid, qc in cents
        )
        probe_map[r["vec_id"]] = [cid for _, cid in ranked[:_IVFSQ8_NPROBE]]

    mins, deltas = sq8_train(emb)
    codes = sq8_encode(emb, mins, deltas).join(
        assigned.select("vec_id", "centroid"), "vec_id"
    )
    path = os.path.join(_IVF_SQ8_BRR_DIR, "codes")
    _cluster_for_write(codes).write.partitionBy("centroid").mode("overwrite").parquet(path)
    return ivf_sq8_batched_rerank_topk(
        spark.read.parquet(path),
        emb,
        queries,
        probe_map,
        deltas,
        k=5,
        shortlist=_IVFSQ8_BATCH_SHORT,
    )


# Cosine over SQ8 (the reference's ACTIVE metric, main.go:28):
# normalize-at-encode, then the SAME integer dot ADC with weights from
# the normalized query. The norm replay is the bit-parity crux: Spark's
# l2_normalize folds the element squares left-to-right from 0.0
# (functions/vector.py dot_product), and DuckDB's list_reduce folds
# left-to-right from the FIRST element — equal because 0.0 + p1 == p1
# exactly in IEEE doubles. Everything downstream (min/max stats, delta,
# floor(z+0.5) codes, int64 weights) is the proven _SQ8_SQL machinery
# over the normalized values.
_SQ8_COS_SQL = """
WITH nv AS (
  SELECT vec_id, embedding,
         sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
                          (a, b) -> a + b)) AS nrm
  FROM embeddings
),
ex AS (
  SELECT vec_id, unnest(embedding) AS xr,
         unnest(range(1, len(embedding) + 1)) AS d, nrm
  FROM nv WHERE nrm > 0
),
exn AS (SELECT vec_id, d, xr::DOUBLE / nrm AS x FROM ex),
stats AS (SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM exn GROUP BY d),
sd AS (SELECT d, mn,
              CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS dl
       FROM stats),
q AS (
  SELECT embedding AS qe,
         sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
                          (a, b) -> a + b)) AS qn
  FROM embeddings WHERE vec_id = 0
),
wgt AS (
  SELECT s.d, s.mn, s.dl,
         CAST(floor(qe[s.d]::DOUBLE / qn * s.dl * 1000000000 + 0.5) AS BIGINT) AS w
  FROM sd s, q
),
scores AS (
  SELECT e.vec_id,
         SUM(LEAST(255, GREATEST(0,
               CAST(floor((e.x - g.mn) / g.dl + 0.5) AS BIGINT))) * g.w
         ) AS score_int
  FROM exn e JOIN wgt g ON g.d = e.d
  GROUP BY e.vec_id
)
SELECT vec_id, CAST(score_int AS BIGINT) AS score_int
FROM scores ORDER BY score_int DESC, vec_id LIMIT 10
"""


@_register("ann_sq8_cosine_topk", _SQ8_COS_SQL)
def ann_sq8_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 under COSINE — the reference's active metric (main.go:28),
    closing the quantized metric triple: L2-normalize, train + encode on
    the normalized vectors, integer dot ADC with normalized-query
    weights. Train, encode, normalization, and scoring all inside the
    hash check."""
    from whatsapp_vectordb_spark.functions.vector import l2_normalize
    from whatsapp_vectordb_spark.operators.ann import (
        sq8_encode,
        sq8_topk_cosine,
        sq8_train,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    embn = emb.select("vec_id", l2_normalize("embedding").alias("embedding"))
    mins, deltas = sq8_train(embn)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]  # RAW: the operator normalizes
    codes = sq8_encode(embn, mins, deltas)
    return sq8_topk_cosine(codes, qvec, deltas, k=10)


_SQ8_EUCLID_SQL = """
WITH ex AS (
  SELECT vec_id, unnest(embedding) AS x,
         unnest(range(1, len(embedding) + 1)) AS d
  FROM embeddings
),
stats AS (SELECT d, MIN(x::DOUBLE) AS mn, MAX(x::DOUBLE) AS mx FROM ex GROUP BY d),
sd AS (SELECT d, mn,
              CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS dl
       FROM stats),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
wgt AS (
  SELECT s.d, s.mn, s.dl,
         CAST(floor(s.dl * s.dl * 1000000000 + 0.5) AS BIGINT) AS a,
         CAST(floor(2 * s.dl * (s.mn - qe[s.d]::DOUBLE) * 1000000000 + 0.5) AS BIGINT) AS b
  FROM sd s, q
),
cb AS (
  SELECT e.vec_id,
         LEAST(255, GREATEST(0,
           CAST(floor((e.x::DOUBLE - g.mn) / g.dl + 0.5) AS BIGINT))) AS c,
         g.a, g.b
  FROM ex e JOIN wgt g ON g.d = e.d
),
scores AS (SELECT vec_id, SUM(c * c * a + c * b) AS score_int FROM cb GROUP BY vec_id)
SELECT vec_id, CAST(score_int AS BIGINT) AS score_int
FROM scores ORDER BY score_int ASC, vec_id LIMIT 10
"""


@_register("ann_sq8_euclidean_topk", _SQ8_EUCLID_SQL)
def ann_sq8_euclidean_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 under the euclidean metric (the reference's second metric,
    upsert.go:27): same analytic build, ascending integer scores from
    the expanded-square weights — train + encode + score all inside the
    hash check."""
    from whatsapp_vectordb_spark.operators.ann import (
        sq8_encode,
        sq8_topk_euclidean,
        sq8_train,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mins, deltas = sq8_train(emb)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    codes = sq8_encode(emb, mins, deltas)
    return sq8_topk_euclidean(codes, qvec, mins, deltas, k=10)


_IVF_SQ8_INGEST_DIR = _oracle_scratch("ivf_sq8_ingest")

# Frozen-quantizer INGEST against the persisted artifact (r14): build on
# the base corpus -> save -> add_batch (atomic batches/<uuid> commit) ->
# RELOAD (the base ∪ batch-dirs union read) -> serve. The oracle reads
# BOTH code layouts (base + committed batch dirs), recomputes the SQ8
# scaler analytically from the BASE corpus only (the frozen-scaler
# contract: batch rows encode with the build-time scaler), and replays
# prune + integer ADC + shortlist + exact re-rank over the augmented
# corpus — a missing/duplicated batch commit, a stale scaler, or a
# broken union read all break the hash.


def _ivf_sq8_ingest_sql() -> str:
    return f"""
WITH codes AS (
  SELECT vec_id, sq8_codes, centroid
  FROM read_parquet('{_IVF_SQ8_INGEST_DIR}/codes/*/*.parquet', hive_partitioning = 1)
  UNION ALL
  SELECT vec_id, sq8_codes, centroid
  FROM read_parquet('{_IVF_SQ8_INGEST_DIR}/batches/*/codes/*.parquet')
),
aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 25 = 0
),
probe AS (SELECT centroid FROM read_parquet('{_IVF_SQ8_INGEST_DIR}/probe/*.parquet')),
exf AS (
  SELECT vec_id, unnest(embedding) AS x,
         unnest(range(1, len(embedding) + 1)) AS d
  FROM embeddings
),
stats AS (SELECT d, MIN(x::DOUBLE) AS mn, MAX(x::DOUBLE) AS mx FROM exf GROUP BY d),
sd AS (SELECT d,
              CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS dl
       FROM stats),
qv8 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
wgt AS (
  SELECT s.d,
         CAST(floor(qe[s.d]::DOUBLE * s.dl * 1000000000 + 0.5) AS BIGINT) AS w
  FROM sd s, qv8
),
exc AS (
  SELECT c.vec_id, unnest(c.sq8_codes) AS cd,
         unnest(range(1, len(c.sq8_codes) + 1)) AS d
  FROM codes c JOIN probe p ON CAST(c.centroid AS BIGINT) = p.centroid
),
iscores AS (
  SELECT e.vec_id, SUM(e.cd::BIGINT * g.w) AS score_int
  FROM exc e JOIN wgt g ON g.d = e.d
  GROUP BY e.vec_id
),
short AS (SELECT vec_id FROM iscores ORDER BY score_int DESC, vec_id LIMIT 50),
q2 AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT a.vec_id,
       ROUND(list_dot_product(a.embedding::DOUBLE[], q2.qv), 6) AS score
FROM aug a JOIN short s ON s.vec_id = a.vec_id CROSS JOIN q2
WHERE list_dot_product(a.embedding::DOUBLE[], q2.qv) IS NOT NULL
ORDER BY score DESC, a.vec_id ASC
LIMIT 10
"""


@_register("ann_ivf_sq8_index_ingest", _ivf_sq8_ingest_sql())
def ann_ivf_sq8_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance half of the persisted serving story: an exact
    copy of every 25th vector ingests through ``add_batch(path=...)``
    (map-only encode against the FROZEN quantizer+scaler, one atomic
    ``batches/<uuid>`` rename), a fresh ``load`` unions base + batch
    layouts from disk, and the served top-10 must rank each copy right
    beside its original (identical vector ⇒ identical ADC score and
    identical exact score; id breaks the tie)."""
    import shutil

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    # fixed scratch: clear prior runs' batch dirs so exactly ONE commit
    # is on disk (save() also folds/clears, but belt + braces for the
    # probe file written outside the index layout)
    shutil.rmtree(_IVF_SQ8_INGEST_DIR, ignore_errors=True)
    IvfSq8Index.build(emb, n_centroids=_KM_K).save(_IVF_SQ8_INGEST_DIR)
    IvfSq8Index.load(spark, _IVF_SQ8_INGEST_DIR).add_batch(
        copies, path=_IVF_SQ8_INGEST_DIR
    )
    reloaded = IvfSq8Index.load(spark, _IVF_SQ8_INGEST_DIR)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    cells = reloaded.probe_centroid_ids(qvec, nprobe=_IVFSQ8_NPROBE)
    local_df(spark, 
        [(int(c),) for c in cells], "centroid bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(_IVF_SQ8_INGEST_DIR, "probe")
    )
    return reloaded.search(
        emb.unionByName(copies), qvec, k=10, nprobe=_IVFSQ8_NPROBE, shortlist=50
    )


_IVFPQ_INGEST_DIR = _oracle_scratch("ivfpq_index_ingest")
_IVFPQ_INGEST_M = 8

# Frozen-codebook INGEST against the persisted MEMORY-bound artifact
# (IvfPqIndex — m bytes/vector vs SQ8's dim bytes; at the reference's
# dim=1536 that is the ~190× smaller layout a RAM-resident corpus
# deploys). Same roundtrip contract as ann_ivf_sq8_index_ingest: build
# on the base corpus -> save -> add_batch (atomic batches/<uuid> commit)
# -> RELOAD (base ∪ batch-dirs union) -> serve. The oracle reads BOTH
# code layouts, replays the per-cell integer-LUT ADC shortlist from the
# persisted codes + LUTs (the house PQ-oracle contract —
# ann_ivfpq_residual_topk), and re-ranks the shortlist exactly over the
# augmented corpus — a missing/duplicated batch commit, a drifted
# codebook, or a broken union read all break the hash.


def _ivfpq_ingest_sql(dir_: str | None = None) -> str:
    """Shared by the batch ingest row and the streaming twin — both
    persist the same artifact layout (base codes + batch dirs) plus
    probe/lut side files, so one SQL shape replays both."""
    d = dir_ or _IVFPQ_INGEST_DIR
    return f"""
WITH codes AS (
  SELECT vec_id, codes, centroid
  FROM read_parquet('{d}/codes/*/*.parquet', hive_partitioning = 1)
  UNION ALL
  SELECT vec_id, codes, centroid
  FROM read_parquet('{d}/batches/*/codes/*.parquet')
),
probes AS (SELECT centroid FROM read_parquet('{d}/probe/*.parquet')),
lut AS (SELECT * FROM read_parquet('{d}/lut/*.parquet')),
s AS (
  SELECT c.vec_id, CAST(SUM(l.w) AS BIGINT) AS score
  FROM codes c
  JOIN probes p ON CAST(c.centroid AS BIGINT) = CAST(p.centroid AS BIGINT)
  CROSS JOIN range(0,{_IVFPQ_INGEST_M}) j(j)
  JOIN lut l ON CAST(l.centroid AS BIGINT) = CAST(c.centroid AS BIGINT)
            AND l.j = j.j AND l.c = c.codes[j.j + 1]
  GROUP BY 1
),
short AS (SELECT vec_id FROM s ORDER BY score ASC, vec_id LIMIT 50),
aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 25 = 0
),
q2 AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT a.vec_id,
       ROUND(list_dot_product(a.embedding::DOUBLE[], q2.qv), 6) AS score
FROM aug a JOIN short s ON s.vec_id = a.vec_id CROSS JOIN q2
WHERE list_dot_product(a.embedding::DOUBLE[], q2.qv) IS NOT NULL
ORDER BY score DESC, a.vec_id ASC
LIMIT 10
"""


def _persist_ivfpq_probe_luts(spark, idx, qvec, dir_: str, nprobe: int = 2):
    """Persist the probe-cell list + flattened per-cell integer LUTs the
    shared ``_ivfpq_ingest_sql`` oracle replays — ONE implementation for
    the batch ingest row and the streaming twin (both must stay
    bit-identical to the SQL's ``lut[j·ksub + code]`` contract)."""
    from whatsapp_vectordb_spark.operators.ann import _run_writes

    cells = idx.probe_cells(qvec, nprobe=nprobe)
    probe_df = local_df(spark,
        [(int(c),) for c in cells], "centroid bigint"
    )
    luts = idx.luts_int(qvec, cells)
    rows = [
        (int(c), j, kk, int(luts[c][j, kk]))
        for c in cells
        for j in range(luts[c].shape[0])
        for kk in range(luts[c].shape[1])
    ]
    lut_df = local_df(spark, rows, "centroid bigint, j int, c int, w bigint")
    # two independent driver-local side files — overlap the jobs (§2.6)
    _run_writes(
        [
            lambda: probe_df.coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(dir_, "probe")),
            lambda: lut_df.coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(dir_, "lut")),
        ]
    )
    return cells


@_register("ann_ivfpq_index_ingest", _ivfpq_ingest_sql())
def ann_ivfpq_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted IVF-PQ artifact's maintenance roundtrip (r15,
    completing the persisted family: IvfSq8Index = 4×-compression tier,
    IvfPqIndex = memory-bound tier): an exact copy of every 25th vector
    ingests through ``add_batch(path=...)`` (ONE map-only
    normalize→assign→residual→encode pass against the FROZEN coarse
    centroids + codebooks, one atomic ``batches/<uuid>`` rename), a
    fresh ``load`` unions base + batch layouts from disk, and the
    served top-10 must rank each copy right beside its original
    (identical vector ⇒ identical residual codes ⇒ identical LUT-ADC
    score; exact re-rank scores equal; id breaks the tie)."""
    import shutil

    from whatsapp_vectordb_spark.operators.ann import IvfPqIndex

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    shutil.rmtree(_IVFPQ_INGEST_DIR, ignore_errors=True)
    IvfPqIndex.build(
        emb, n_centroids=8, m=_IVFPQ_INGEST_M, ksub=16, sample_rows=500
    ).save(_IVFPQ_INGEST_DIR)
    IvfPqIndex.load(spark, _IVFPQ_INGEST_DIR).add_batch(
        copies, path=_IVFPQ_INGEST_DIR
    )
    reloaded = IvfPqIndex.load(spark, _IVFPQ_INGEST_DIR)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    _persist_ivfpq_probe_luts(spark, reloaded, qvec, _IVFPQ_INGEST_DIR)
    return reloaded.search(
        emb.unionByName(copies), qvec, k=10, nprobe=2, shortlist=50
    )


# ---------------------------------------------------------------------------
# MUTATION rows (upsert/delete on the persisted serving artifacts) — the
# reference's remaining Pinecone verbs (upsert.go:16 replace-by-id;
# delete is the API's fourth verb) landed on the SERVING layouts, not
# just the plain table (upsert_replace_by_id / index_delete cover that).
# Scenario, three seq-ordered atomic commits against a saved index with
# a co-located float store:
#   seq1 UPSERT: ids %10==3 get the query's own embedding (clones — they
#        must rocket into the top-k, proving the replace half);
#   seq2 DELETE: ids %20==3 (half the clones — perfect-scoring rows must
#        VANISH, proving tombstones mask strictly-older writes);
#   seq3 UPSERT: ids %40==3 re-added (a write AFTER a delete must win —
#        commit-seq order, not wall clock).
# The oracle replays visibility from the DISK layouts alone: codes ∪
# batch codes with their commit _seq, tombstones folded to max-seq per
# id, rows visible iff no strictly-newer tombstone — then the house
# prune + integer-ADC + shortlist + exact-re-rank replay over the
# equally-masked on-disk float store. A lost tombstone, a half-applied
# upsert, a wrong seq comparison, or a mask that leaks into the float
# side all break the hash.


def _mutate_visibility_ctes(
    d: str, codes_col: str, as_of: int | None = None
) -> str:
    """Shared visibility CTEs for the mutation/time-travel oracles:
    seq-stamped codes/vectors unions from the saved layout + tombstone
    fold + the strictly-older mask (the `_mask_deleted` rule, replayed
    in SQL). ``as_of`` replays a SNAPSHOT read — batch rows and
    tombstones committed after that seq are excluded, exactly the
    `load(as_of=...)` bound (the base is seq 0, always in)."""
    bound = "" if as_of is None else f" WHERE _seq <= {as_of}"
    return f"""
codes_all AS (
  SELECT vec_id, {codes_col}, centroid, 0 AS _seq
  FROM read_parquet('{d}/codes/*/*.parquet', hive_partitioning = 1)
  UNION ALL
  SELECT vec_id, {codes_col}, centroid, _seq
  FROM read_parquet('{d}/batches/*/codes/*.parquet')
 {bound}
),
dels AS (
  SELECT vec_id AS del_id, MAX(_seq) AS del_seq
  FROM read_parquet('{d}/batches/*/deletes/*.parquet')
 {bound}
  GROUP BY 1
),
codes AS (
  SELECT c.vec_id, c.{codes_col}, c.centroid
  FROM codes_all c
  LEFT JOIN dels t ON c.vec_id = t.del_id AND c._seq < t.del_seq
  WHERE t.del_id IS NULL
),
vecs_all AS (
  SELECT vec_id, embedding, 0 AS _seq
  FROM read_parquet('{d}/vectors/*/*.parquet', hive_partitioning = 1)
  UNION ALL
  SELECT vec_id, embedding, _seq
  FROM read_parquet('{d}/batches/*/vectors/*.parquet')
 {bound}
),
vecs AS (
  SELECT v.vec_id, v.embedding
  FROM vecs_all v
  LEFT JOIN dels t ON v.vec_id = t.del_id AND v._seq < t.del_seq
  WHERE t.del_id IS NULL
)"""


_IVF_SQ8_MUTATE_DIR = _oracle_scratch("ivf_sq8_mutate")


def _ivf_sq8_mutate_sql(dir_: str | None = None, as_of: int | None = None) -> str:
    """Shared by the batch mutation row, its streaming-CDC twin, and
    the TIME-TRAVEL row — all persist the same layout shape (base +
    seq'd batch dirs with tombstones + probe side file), so one SQL
    shape replays them all: the visibility mask is derived from the
    committed layouts ALONE, which also makes the streaming twin's
    oracle correct under any file→trigger split the engine produced.
    ``as_of`` bounds the replay to commits <= that seq (snapshot)."""
    d = dir_ or _IVF_SQ8_MUTATE_DIR
    return f"""
WITH {_mutate_visibility_ctes(d, "sq8_codes", as_of)},
probe AS (SELECT centroid FROM read_parquet('{d}/probe/*.parquet')),
exf AS (
  SELECT vec_id, unnest(embedding) AS x,
         unnest(range(1, len(embedding) + 1)) AS d
  FROM embeddings
),
stats AS (SELECT d, MIN(x::DOUBLE) AS mn, MAX(x::DOUBLE) AS mx FROM exf GROUP BY d),
sd AS (SELECT d,
              CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS dl
       FROM stats),
qv8 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
wgt AS (
  SELECT s.d,
         CAST(floor(qe[s.d]::DOUBLE * s.dl * 1000000000 + 0.5) AS BIGINT) AS w
  FROM sd s, qv8
),
exc AS (
  SELECT c.vec_id, unnest(c.sq8_codes) AS cd,
         unnest(range(1, len(c.sq8_codes) + 1)) AS d
  FROM codes c JOIN probe p ON CAST(c.centroid AS BIGINT) = p.centroid
),
iscores AS (
  SELECT e.vec_id, SUM(e.cd::BIGINT * g.w) AS score_int
  FROM exc e JOIN wgt g ON g.d = e.d
  GROUP BY e.vec_id
),
short AS (SELECT vec_id FROM iscores ORDER BY score_int DESC, vec_id LIMIT 50),
q2 AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT v.vec_id,
       ROUND(list_dot_product(v.embedding::DOUBLE[], q2.qv), 6) AS score
FROM vecs v JOIN short s ON s.vec_id = v.vec_id CROSS JOIN q2
WHERE list_dot_product(v.embedding::DOUBLE[], q2.qv) IS NOT NULL
ORDER BY score DESC, v.vec_id ASC
LIMIT 10
"""


def _mutate_index(idx_cls, spark, emb, path: str):
    """Run the shared three-commit mutation scenario against a freshly
    saved index at ``path`` and return (reloaded index, query vector).

    ONE tip load drives all three verbs (r18, the CDC rows' trigger-
    scoped handle reuse): each commit's bytes derive only from its
    batch, the frozen meta and the on-disk seq allocation — never from
    the handle's in-memory frames — so the committed scenario is
    bit-identical to the old load-per-verb form, and the returned index
    is still a FRESH load of the committed state."""
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    clones = emb.where(F.col("vec_id") % 10 == 3).select(
        "vec_id", F.lit(qvec).cast("array<float>").alias("embedding")
    )
    tip = idx_cls.load(spark, path)
    tip.upsert(clones, path=path)
    tip.delete(emb.where(F.col("vec_id") % 20 == 3).select("vec_id"), path=path)
    tip.upsert(clones.where(F.col("vec_id") % 40 == 3), path=path)
    return idx_cls.load(spark, path), qvec


@_register("ann_ivf_sq8_index_mutate", _ivf_sq8_mutate_sql())
def ann_ivf_sq8_index_mutate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert/delete on the persisted IVF-SQ8 artifact (see the mutation
    block comment): each verb is ONE atomic ``batches/<seq>_<uuid>``
    rename (an upsert's tombstones + fresh codes + co-located floats
    commit together), reads mask strictly-older rows with one broadcast
    anti-join, and the served top-10 must show the replaced vectors,
    hide the deleted ids, and re-show the re-added ones."""
    import shutil

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    shutil.rmtree(_IVF_SQ8_MUTATE_DIR, ignore_errors=True)
    IvfSq8Index.build(emb, n_centroids=_KM_K).save(
        _IVF_SQ8_MUTATE_DIR, store_vectors=True
    )
    reloaded, qvec = _mutate_index(IvfSq8Index, spark, emb, _IVF_SQ8_MUTATE_DIR)
    cells = reloaded.probe_centroid_ids(qvec, nprobe=_IVFSQ8_NPROBE)
    local_df(spark, 
        [(int(c),) for c in cells], "centroid bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(_IVF_SQ8_MUTATE_DIR, "probe")
    )
    return reloaded.search(
        None, qvec, k=10, nprobe=_IVFSQ8_NPROBE, shortlist=50
    )


_IVFPQ_MUTATE_DIR = _oracle_scratch("ivfpq_mutate")


def _ivfpq_mutate_sql(dir_: str | None = None, as_of: int | None = None) -> str:
    """Shared by the batch mutation row, its streaming-CDC twin, and
    the time-travel row — the ``_ivf_sq8_mutate_sql`` contract:
    visibility replayed from the committed layouts alone, correct under
    any file→trigger split; ``as_of`` bounds the replay (snapshot)."""
    d = dir_ or _IVFPQ_MUTATE_DIR
    return f"""
WITH {_mutate_visibility_ctes(d, "codes", as_of)},
probes AS (SELECT centroid FROM read_parquet('{d}/probe/*.parquet')),
lut AS (SELECT * FROM read_parquet('{d}/lut/*.parquet')),
s AS (
  SELECT c.vec_id, CAST(SUM(l.w) AS BIGINT) AS score
  FROM codes c
  JOIN probes p ON CAST(c.centroid AS BIGINT) = CAST(p.centroid AS BIGINT)
  CROSS JOIN range(0,{_IVFPQ_INGEST_M}) j(j)
  JOIN lut l ON CAST(l.centroid AS BIGINT) = CAST(c.centroid AS BIGINT)
            AND l.j = j.j AND l.c = c.codes[j.j + 1]
  GROUP BY 1
),
short AS (SELECT vec_id FROM s ORDER BY score ASC, vec_id LIMIT 50),
q2 AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT v.vec_id,
       ROUND(list_dot_product(v.embedding::DOUBLE[], q2.qv), 6) AS score
FROM vecs v JOIN short s ON s.vec_id = v.vec_id CROSS JOIN q2
WHERE list_dot_product(v.embedding::DOUBLE[], q2.qv) IS NOT NULL
ORDER BY score DESC, v.vec_id ASC
LIMIT 10
"""


_IVF_SQ8_FILTER_DIR = _oracle_scratch("ivf_sq8_filtered")

# Metadata-FILTERED serving (the reference API's query filter: Pinecone
# restricts a query to ids whose metadata matches a predicate). PRE-
# filter semantics: the predicate evaluates on the metadata table (its
# own pushed-down parquet filter), the resulting id set broadcast
# semi-joins into the pruned codes scan BEFORE the ADC shortlist — so
# all k results satisfy the filter by construction (post-filtering a
# k-deep result can return < k matches no matter how the overfetch is
# tuned). The oracle replays the same restriction: codes ∩ allowed →
# integer ADC → shortlist → exact re-rank.


def _ivf_sq8_filtered_sql() -> str:
    d = _IVF_SQ8_FILTER_DIR
    return f"""
WITH codes AS (
  SELECT vec_id, sq8_codes, centroid
  FROM read_parquet('{d}/codes/*/*.parquet', hive_partitioning = 1)
),
allowed AS (
  SELECT vec_id FROM embeddings
  WHERE label = (SELECT label FROM embeddings WHERE vec_id = 7)
),
probe AS (SELECT centroid FROM read_parquet('{d}/probe/*.parquet')),
exf AS (
  SELECT vec_id, unnest(embedding) AS x,
         unnest(range(1, len(embedding) + 1)) AS d
  FROM embeddings
),
stats AS (SELECT d, MIN(x::DOUBLE) AS mn, MAX(x::DOUBLE) AS mx FROM exf GROUP BY d),
sd AS (SELECT d,
              CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS dl
       FROM stats),
qv8 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
wgt AS (
  SELECT s.d,
         CAST(floor(qe[s.d]::DOUBLE * s.dl * 1000000000 + 0.5) AS BIGINT) AS w
  FROM sd s, qv8
),
exc AS (
  SELECT c.vec_id, unnest(c.sq8_codes) AS cd,
         unnest(range(1, len(c.sq8_codes) + 1)) AS d
  FROM codes c
  JOIN probe p ON CAST(c.centroid AS BIGINT) = p.centroid
  JOIN allowed a ON a.vec_id = c.vec_id
),
iscores AS (
  SELECT e.vec_id, SUM(e.cd::BIGINT * g.w) AS score_int
  FROM exc e JOIN wgt g ON g.d = e.d
  GROUP BY e.vec_id
),
short AS (SELECT vec_id FROM iscores ORDER BY score_int DESC, vec_id LIMIT 50),
q2 AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       ROUND(list_dot_product(e.embedding::DOUBLE[], q2.qv), 6) AS score
FROM embeddings e JOIN short s ON s.vec_id = e.vec_id CROSS JOIN q2
WHERE list_dot_product(e.embedding::DOUBLE[], q2.qv) IS NOT NULL
ORDER BY score DESC, e.vec_id ASC
LIMIT 10
"""


@_register("ann_ivf_sq8_filtered_topk", _ivf_sq8_filtered_sql())
def ann_ivf_sq8_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search on the persisted serving artifact: top-10
    among embeddings sharing vec_id 7's label only. The label predicate
    runs on the metadata table (pushed-down scan), its id set broadcast
    semi-joins into the partition-pruned codes scan pre-ADC
    (``IvfSq8Index.search(allowed=...)``) — k results guaranteed to
    match the filter, no overfetch heuristics, no shuffle added
    (plan-audited in tests/test_plans.py)."""
    import shutil

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb3 = _t(spark, sf_dir, "embeddings")
    emb = emb3.select("vec_id", "embedding")
    shutil.rmtree(_IVF_SQ8_FILTER_DIR, ignore_errors=True)
    IvfSq8Index.build(emb, n_centroids=_KM_K).save(
        _IVF_SQ8_FILTER_DIR, store_vectors=True
    )
    idx = IvfSq8Index.load(spark, _IVF_SQ8_FILTER_DIR)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    lbl = emb3.where(F.col("vec_id") == 7).head()["label"]
    allowed = emb3.where(F.col("label") == lbl).select("vec_id")
    cells = idx.probe_centroid_ids(qvec, nprobe=_IVFSQ8_NPROBE)
    local_df(spark, 
        [(int(c),) for c in cells], "centroid bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(_IVF_SQ8_FILTER_DIR, "probe")
    )
    return idx.search(
        None,
        qvec,
        k=10,
        nprobe=_IVFSQ8_NPROBE,
        shortlist=50,
        allowed=allowed,
    )


_IVFPQ_FILTER_DIR = _oracle_scratch("ivfpq_filtered")


def _ivfpq_filtered_sql() -> str:
    """Filtered serving on the MEMORY-bound tier — the PQ twin of
    ``_ivf_sq8_filtered_sql`` (VERDICT r15 gap #1: the shared
    ``_allowed_codes`` path was oracle-gated on SQ8 only). Same
    pre-filter contract: codes ∩ allowed → LUT-ADC shortlist
    (ascending residual distance) → exact re-rank."""
    d = _IVFPQ_FILTER_DIR
    return f"""
WITH codes AS (
  SELECT vec_id, codes, centroid
  FROM read_parquet('{d}/codes/*/*.parquet', hive_partitioning = 1)
),
allowed AS (
  SELECT vec_id FROM embeddings
  WHERE label = (SELECT label FROM embeddings WHERE vec_id = 7)
),
probes AS (SELECT centroid FROM read_parquet('{d}/probe/*.parquet')),
lut AS (SELECT * FROM read_parquet('{d}/lut/*.parquet')),
s AS (
  SELECT c.vec_id, CAST(SUM(l.w) AS BIGINT) AS score
  FROM codes c
  JOIN probes p ON CAST(c.centroid AS BIGINT) = CAST(p.centroid AS BIGINT)
  JOIN allowed a ON a.vec_id = c.vec_id
  CROSS JOIN range(0,{_IVFPQ_INGEST_M}) j(j)
  JOIN lut l ON CAST(l.centroid AS BIGINT) = CAST(c.centroid AS BIGINT)
            AND l.j = j.j AND l.c = c.codes[j.j + 1]
  GROUP BY 1
),
short AS (SELECT vec_id FROM s ORDER BY score ASC, vec_id LIMIT 50),
q2 AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       ROUND(list_dot_product(e.embedding::DOUBLE[], q2.qv), 6) AS score
FROM embeddings e JOIN short s ON s.vec_id = e.vec_id CROSS JOIN q2
WHERE list_dot_product(e.embedding::DOUBLE[], q2.qv) IS NOT NULL
ORDER BY score DESC, e.vec_id ASC
LIMIT 10
"""


@_register("ann_ivfpq_filtered_topk", _ivfpq_filtered_sql())
def ann_ivfpq_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search on the persisted MEMORY-bound artifact:
    top-10 among embeddings sharing vec_id 7's label, served from the
    saved IVF-PQ layout. The label predicate runs on the metadata table
    (pushed-down scan); its id set broadcast semi-joins into the
    partition-pruned residual-codes scan BEFORE the LUT-ADC shortlist
    (``IvfPqIndex.search(allowed=...)`` → shared ``_allowed_codes``,
    operators/ann.py) — k results guaranteed to match the filter, no
    overfetch, pruning untouched. Completes the filtered-serving
    symmetry between the two persisted tiers (VERDICT r15 #5)."""
    import shutil

    from whatsapp_vectordb_spark.operators.ann import IvfPqIndex

    emb3 = _t(spark, sf_dir, "embeddings")
    emb = emb3.select("vec_id", "embedding")
    shutil.rmtree(_IVFPQ_FILTER_DIR, ignore_errors=True)
    IvfPqIndex.build(
        emb, n_centroids=8, m=_IVFPQ_INGEST_M, ksub=16, sample_rows=500
    ).save(_IVFPQ_FILTER_DIR)
    idx = IvfPqIndex.load(spark, _IVFPQ_FILTER_DIR)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    lbl = emb3.where(F.col("vec_id") == 7).head()["label"]
    allowed = emb3.where(F.col("label") == lbl).select("vec_id")
    _persist_ivfpq_probe_luts(spark, idx, qvec, _IVFPQ_FILTER_DIR)
    return idx.search(
        emb, qvec, k=10, nprobe=2, shortlist=50, allowed=allowed
    )


_IVFPQ_BR_DIR = _oracle_scratch("ivfpq_batched_rerank")
_IVFPQ_BR_QIDS = (0, 1, 2)

# Batched EXACT serving on the memory-bound tier (IvfPqIndex
# .search_batched): N queries, ONE pruned residual-codes scan for the
# LUT-ADC shortlists, ONE float pass for the exact re-rank — the PQ twin
# of ann_ivf_sq8_batched_rerank_topk, completing the batched-serving
# symmetry between the two persisted artifacts. Persisted-state oracle:
# codes from the saved layout, the (query, cell) probe map and the
# per-(query, cell) flattened residual LUTs from side files; DuckDB
# replays shortlist (ascending int64 residual distances) then exact
# dot-product re-rank over the source floats.


def _ivfpq_batched_rerank_sql() -> str:
    d = _IVFPQ_BR_DIR
    return f"""
WITH codes AS (
  SELECT vec_id, codes, centroid
  FROM read_parquet('{d}/codes/*/*.parquet', hive_partitioning = 1)
),
probes AS (
  SELECT query_id, centroid FROM read_parquet('{d}/probe/*.parquet')
),
lut AS (
  SELECT query_id, centroid, j, c, w FROM read_parquet('{d}/lut/*.parquet')
),
s AS (
  SELECT p.query_id, cl.vec_id, CAST(SUM(l.w) AS BIGINT) AS score_int
  FROM codes cl
  JOIN probes p ON CAST(cl.centroid AS BIGINT) = CAST(p.centroid AS BIGINT)
  CROSS JOIN range(0,{_IVFPQ_INGEST_M}) j(j)
  JOIN lut l ON l.query_id = p.query_id
            AND CAST(l.centroid AS BIGINT) = CAST(cl.centroid AS BIGINT)
            AND l.j = j.j AND l.c = cl.codes[j.j + 1]
  GROUP BY 1, 2
),
short AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY score_int ASC, vec_id ASC
           ) AS rk
    FROM s
  ) WHERE rk <= 50
),
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id IN {_IVFPQ_BR_QIDS}
)
SELECT query_id, vec_id, score FROM (
  SELECT sh.query_id, e.vec_id,
         ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv), 6) AS score,
         ROW_NUMBER() OVER (
           PARTITION BY sh.query_id
           ORDER BY ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv), 6) DESC,
                    e.vec_id ASC
         ) AS rk
  FROM short sh
  JOIN embeddings e ON e.vec_id = sh.vec_id
  JOIN q ON q.query_id = sh.query_id
  WHERE list_dot_product(e.embedding::DOUBLE[], q.qv) IS NOT NULL
) WHERE rk <= 5
"""


@_register("ann_ivfpq_batched_rerank_topk", _ivfpq_batched_rerank_sql())
def ann_ivfpq_batched_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memory-bound tier's batched EXACT serving
    (``IvfPqIndex.search_batched``): 3 queries → one partition-pruned
    scan of the 16-byte residual codes for the per-query LUT-ADC
    shortlists, then ONE pass over the source floats re-ranks every
    shortlist exactly (shared ``batched_exact_rerank`` tail — the
    |Q|·shortlist pairs broadcast, the float table never shuffles)."""
    import shutil

    from whatsapp_vectordb_spark.operators.ann import IvfPqIndex

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    shutil.rmtree(_IVFPQ_BR_DIR, ignore_errors=True)
    IvfPqIndex.build(
        emb, n_centroids=8, m=_IVFPQ_INGEST_M, ksub=16, sample_rows=500
    ).save(_IVFPQ_BR_DIR)
    idx = IvfPqIndex.load(spark, _IVFPQ_BR_DIR)
    qrows = emb.where(F.col("vec_id").isin(*_IVFPQ_BR_QIDS)).collect()
    queries = [(r["vec_id"], r["embedding"]) for r in qrows]
    probe_rows, lut_rows = [], []
    for qid, vec in queries:
        cells = idx.probe_cells(vec, nprobe=2)
        luts = idx.luts_int(vec, cells)
        for c in cells:
            probe_rows.append((int(qid), int(c)))
            lut = luts[c]
            lut_rows.extend(
                (int(qid), int(c), j, kk, int(lut[j, kk]))
                for j in range(lut.shape[0])
                for kk in range(lut.shape[1])
            )
    local_df(spark, 
        probe_rows, "query_id bigint, centroid bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(_IVFPQ_BR_DIR, "probe")
    )
    local_df(spark, 
        lut_rows, "query_id bigint, centroid bigint, j int, c int, w bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(_IVFPQ_BR_DIR, "lut")
    )
    return idx.search_batched(emb, queries, k=5, nprobe=2, shortlist=50)


@_register("ann_ivfpq_index_mutate", _ivfpq_mutate_sql())
def ann_ivfpq_index_mutate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memory-bound tier under the same three-commit mutation
    scenario (block comment above): fresh residual codes + tombstones
    commit atomically, the LUT-ADC shortlist sees only visible rows, and
    the exact re-rank reads the equally-masked co-located float store."""
    import shutil

    from whatsapp_vectordb_spark.operators.ann import IvfPqIndex

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    shutil.rmtree(_IVFPQ_MUTATE_DIR, ignore_errors=True)
    IvfPqIndex.build(
        emb, n_centroids=8, m=_IVFPQ_INGEST_M, ksub=16, sample_rows=500
    ).save(_IVFPQ_MUTATE_DIR, store_vectors=True)
    reloaded, qvec = _mutate_index(IvfPqIndex, spark, emb, _IVFPQ_MUTATE_DIR)
    _persist_ivfpq_probe_luts(spark, reloaded, qvec, _IVFPQ_MUTATE_DIR)
    return reloaded.search(None, qvec, k=10, nprobe=2, shortlist=50)


# ---------------------------------------------------------------------------
# TIME TRAVEL (snapshot reads) — `load(as_of=N)` opens the persisted
# artifact as it stood after mutation commit N: batch dirs with a newer
# seq are never opened (pure metadata, the Delta/Iceberg VERSION AS OF
# mechanism on our own commit log), tombstones fold only up to the
# bound, and the strictly-older mask applies within it. The rows replay
# the three-commit mutation scenario and serve at as_of=2 — the one
# bound that exercises every clause at once: seq-1 clones must show
# (inside the bound), seq-2 tombstones must hide their targets
# (tombstones <= bound apply), and the seq-3 re-adds must NOT be
# visible yet (commits > bound excluded). The oracle is the SHARED
# mutation SQL with `_seq <= 2` pinned into the visibility CTEs —
# snapshot semantics verified from the committed layouts alone.

_IVF_SQ8_TT_DIR = _oracle_scratch("ivf_sq8_time_travel")


@_register(
    "ann_ivf_sq8_time_travel", _ivf_sq8_mutate_sql(_IVF_SQ8_TT_DIR, as_of=2)
)
def ann_ivf_sq8_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot serving on the 4×-compression tier (block comment
    above): after the full three-commit scenario, ``load(as_of=2)``
    serves the post-delete / pre-re-add state — a read-only handle
    whose plans union only commits <= 2 (partition pruning intact on
    every branch; newer batch dirs never open)."""
    import shutil

    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        layout_snapshots,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    shutil.rmtree(_IVF_SQ8_TT_DIR, ignore_errors=True)
    IvfSq8Index.build(emb, n_centroids=_KM_K).save(
        _IVF_SQ8_TT_DIR, store_vectors=True
    )
    _, qvec = _mutate_index(IvfSq8Index, spark, emb, _IVF_SQ8_TT_DIR)
    if layout_snapshots(_IVF_SQ8_TT_DIR) != [(0, 0), (0, 1), (0, 2), (0, 3)]:
        raise RuntimeError(
            f"commit log shape drifted: {layout_snapshots(_IVF_SQ8_TT_DIR)}"
        )
    snap = IvfSq8Index.load(spark, _IVF_SQ8_TT_DIR, as_of=2)
    cells = snap.probe_centroid_ids(qvec, nprobe=_IVFSQ8_NPROBE)
    local_df(spark, 
        [(int(c),) for c in cells], "centroid bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(_IVF_SQ8_TT_DIR, "probe")
    )
    return snap.search(None, qvec, k=10, nprobe=_IVFSQ8_NPROBE, shortlist=50)


_IVFPQ_TT_DIR = _oracle_scratch("ivfpq_time_travel")


@_register("ann_ivfpq_time_travel", _ivfpq_mutate_sql(_IVFPQ_TT_DIR, as_of=2))
def ann_ivfpq_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot serving on the memory-bound tier — same bound, same
    shared snapshot rule (one commit-log shape for both persisted
    tiers), LUT-ADC shortlist and co-located exact re-rank both reading
    the as_of=2 view."""
    import shutil

    from whatsapp_vectordb_spark.operators.ann import IvfPqIndex

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    shutil.rmtree(_IVFPQ_TT_DIR, ignore_errors=True)
    IvfPqIndex.build(
        emb, n_centroids=8, m=_IVFPQ_INGEST_M, ksub=16, sample_rows=500
    ).save(_IVFPQ_TT_DIR, store_vectors=True)
    _, qvec = _mutate_index(IvfPqIndex, spark, emb, _IVFPQ_TT_DIR)
    snap = IvfPqIndex.load(spark, _IVFPQ_TT_DIR, as_of=2)
    _persist_ivfpq_probe_luts(spark, snap, qvec, _IVFPQ_TT_DIR)
    return snap.search(None, qvec, k=10, nprobe=2, shortlist=50)


# ---------------------------------------------------------------------------
# SNAPSHOT RETENTION ACROSS FOLDS (round 17) — a fold (save-as-fold)
# RETAINS the state it displaces under `_retained/<fold_epoch>/` (the
# pre-fold meta, the consumed commit log, every rewritten base cell),
# so `load(as_of=(epoch, seq))` survives compaction: the pair form is a
# STABLE snapshot identifier (seqs reset at each fold, epochs never do
# — the Delta/Iceberg monotonic-version rule, ADVICE r16), and vacuum
# is the explicit expiry verb. The row runs the three-commit scenario,
# FOLDS it, commits two more deletes in the NEW epoch (so a stale seq-2
# bound aliases a different state if epochs are ignored), then serves
# `load(as_of=(0, 2))` — the pre-fold post-delete/pre-re-add snapshot.
# The oracle replays that snapshot from the RETAINED layout alone:
# epoch-0 base cells resolve retained-first (a fold displaces touched
# cells; untouched ones are still the live base — the engine's
# `_snapshot_cell_sources` rule in SQL), epoch-0 commits come from the
# retained `batches/`, bounded to seq 2, and the live epoch-1 commit
# log is never read. A fold that loses a displaced cell, leaks a new
# one, or mis-filters the retained commit log breaks the hash.

_IVF_SQ8_RET_DIR = _oracle_scratch("ivf_sq8_retention")


def _retained_visibility_ctes(d: str, codes_col: str, as_of: int) -> str:
    """Visibility CTEs for a RETAINED pre-fold snapshot (epoch 0 read
    through `_retained/00000001/` after one fold): base cells prefer the
    retained copy (cells the fold displaced) and fall back to the live
    base (cells the fold never touched — physically the same files the
    epoch-0 reader saw); commits and tombstones replay from the retained
    commit log only, bounded to ``as_of``. The registering row asserts
    the fold CREATED no cells (fold.json), which this precedence rule
    relies on — a drift raises there, loudly, before the oracle runs."""
    r = f"{d}/_retained/00000001"
    return f"""
ret_cells AS (
  SELECT DISTINCT centroid
  FROM read_parquet('{r}/codes/*/*.parquet', hive_partitioning = 1)
),
base0_codes AS (
  SELECT vec_id, {codes_col}, centroid
  FROM read_parquet('{r}/codes/*/*.parquet', hive_partitioning = 1)
  UNION ALL
  SELECT vec_id, {codes_col}, centroid
  FROM read_parquet('{d}/codes/*/*.parquet', hive_partitioning = 1)
  WHERE centroid NOT IN (SELECT centroid FROM ret_cells)
),
base0_vecs AS (
  SELECT vec_id, embedding, centroid
  FROM read_parquet('{r}/vectors/*/*.parquet', hive_partitioning = 1)
  UNION ALL
  SELECT vec_id, embedding, centroid
  FROM read_parquet('{d}/vectors/*/*.parquet', hive_partitioning = 1)
  WHERE centroid NOT IN (SELECT centroid FROM ret_cells)
),
codes_all AS (
  SELECT vec_id, {codes_col}, centroid, 0 AS _seq FROM base0_codes
  UNION ALL
  SELECT vec_id, {codes_col}, centroid, _seq
  FROM read_parquet('{r}/batches/*/codes/*.parquet')
  WHERE _seq <= {as_of}
),
dels AS (
  SELECT vec_id AS del_id, MAX(_seq) AS del_seq
  FROM read_parquet('{r}/batches/*/deletes/*.parquet')
  WHERE _seq <= {as_of}
  GROUP BY 1
),
codes AS (
  SELECT c.vec_id, c.{codes_col}, c.centroid
  FROM codes_all c
  LEFT JOIN dels t ON c.vec_id = t.del_id AND c._seq < t.del_seq
  WHERE t.del_id IS NULL
),
vecs_all AS (
  SELECT vec_id, embedding, 0 AS _seq FROM base0_vecs
  UNION ALL
  SELECT vec_id, embedding, _seq
  FROM read_parquet('{r}/batches/*/vectors/*.parquet')
  WHERE _seq <= {as_of}
),
vecs AS (
  SELECT v.vec_id, v.embedding
  FROM vecs_all v
  LEFT JOIN dels t ON v.vec_id = t.del_id AND v._seq < t.del_seq
  WHERE t.del_id IS NULL
)"""


def _ivf_sq8_retention_sql() -> str:
    """The SQ8 serve replay (probe + integer ADC + shortlist + exact
    re-rank — the `_ivf_sq8_mutate_sql` body) over the RETAINED (0, 2)
    snapshot's visibility."""
    d = _IVF_SQ8_RET_DIR
    return f"""
WITH {_retained_visibility_ctes(d, "sq8_codes", as_of=2)},
probe AS (SELECT centroid FROM read_parquet('{d}/probe/*.parquet')),
exf AS (
  SELECT vec_id, unnest(embedding) AS x,
         unnest(range(1, len(embedding) + 1)) AS d
  FROM embeddings
),
stats AS (SELECT d, MIN(x::DOUBLE) AS mn, MAX(x::DOUBLE) AS mx FROM exf GROUP BY d),
sd AS (SELECT d,
              CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS dl
       FROM stats),
qv8 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
wgt AS (
  SELECT s.d,
         CAST(floor(qe[s.d]::DOUBLE * s.dl * 1000000000 + 0.5) AS BIGINT) AS w
  FROM sd s, qv8
),
exc AS (
  SELECT c.vec_id, unnest(c.sq8_codes) AS cd,
         unnest(range(1, len(c.sq8_codes) + 1)) AS d
  FROM codes c JOIN probe p ON CAST(c.centroid AS BIGINT) = p.centroid
),
iscores AS (
  SELECT e.vec_id, SUM(e.cd::BIGINT * g.w) AS score_int
  FROM exc e JOIN wgt g ON g.d = e.d
  GROUP BY e.vec_id
),
short AS (SELECT vec_id FROM iscores ORDER BY score_int DESC, vec_id LIMIT 50),
q2 AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT v.vec_id,
       ROUND(list_dot_product(v.embedding::DOUBLE[], q2.qv), 6) AS score
FROM vecs v JOIN short s ON s.vec_id = v.vec_id CROSS JOIN q2
WHERE list_dot_product(v.embedding::DOUBLE[], q2.qv) IS NOT NULL
ORDER BY score DESC, v.vec_id ASC
LIMIT 10
"""


@_register("ann_ivf_sq8_snapshot_retention", _ivf_sq8_retention_sql())
def ann_ivf_sq8_snapshot_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pre-fold snapshot served THROUGH a fold (section comment above):
    three-commit scenario → fold (epoch 1, state retained) → two fresh
    epoch-1 deletes → `load(as_of=(0, 2))` serves the retained
    post-delete/pre-re-add view, scored with epoch 0's own frozen
    scaler from the retained meta."""
    import json as _json
    import shutil

    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        layout_snapshots,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    shutil.rmtree(_IVF_SQ8_RET_DIR, ignore_errors=True)
    IvfSq8Index.build(emb, n_centroids=_KM_K).save(
        _IVF_SQ8_RET_DIR, store_vectors=True
    )
    _, qvec = _mutate_index(IvfSq8Index, spark, emb, _IVF_SQ8_RET_DIR)
    IvfSq8Index.load(spark, _IVF_SQ8_RET_DIR).save(_IVF_SQ8_RET_DIR)  # FOLD
    # fresh epoch-1 commits: a reader ignoring epochs would alias seq 2.
    # One post-fold load drives both (the _mutate_index handle-reuse
    # argument; the fold above invalidated any earlier handle)
    tip = IvfSq8Index.load(spark, _IVF_SQ8_RET_DIR)
    tip.delete([3], path=_IVF_SQ8_RET_DIR)
    tip.delete([0], path=_IVF_SQ8_RET_DIR)

    pairs = layout_snapshots(_IVF_SQ8_RET_DIR)
    if [p for p in pairs if p[0] == 0] != [(0, 0), (0, 1), (0, 2), (0, 3)]:
        raise RuntimeError(f"retained commit-log shape drifted: {pairs}")
    with open(
        os.path.join(_IVF_SQ8_RET_DIR, "_retained", "00000001", "fold.json")
    ) as f:
        fold = _json.load(f)
    if fold.get("full") or fold.get("created"):
        raise RuntimeError(
            f"fold shape drifted (oracle assumes no created cells): {fold}"
        )

    snap = IvfSq8Index.load(spark, _IVF_SQ8_RET_DIR, as_of=(0, 2))
    cells = snap.probe_centroid_ids(qvec, nprobe=_IVFSQ8_NPROBE)
    local_df(spark, 
        [(int(c),) for c in cells], "centroid bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(_IVF_SQ8_RET_DIR, "probe")
    )
    return snap.search(None, qvec, k=10, nprobe=_IVFSQ8_NPROBE, shortlist=50)


_IVFPQ_RET_DIR = _oracle_scratch("ivfpq_retention")


def _ivfpq_retention_sql() -> str:
    """The PQ LUT-ADC serve replay (`_ivfpq_mutate_sql` body) over the
    RETAINED (0, 2) snapshot's visibility — tier symmetry for the
    retention contract."""
    d = _IVFPQ_RET_DIR
    return f"""
WITH {_retained_visibility_ctes(d, "codes", as_of=2)},
probes AS (SELECT centroid FROM read_parquet('{d}/probe/*.parquet')),
lut AS (SELECT * FROM read_parquet('{d}/lut/*.parquet')),
s AS (
  SELECT c.vec_id, CAST(SUM(l.w) AS BIGINT) AS score
  FROM codes c
  JOIN probes p ON CAST(c.centroid AS BIGINT) = CAST(p.centroid AS BIGINT)
  CROSS JOIN range(0,{_IVFPQ_INGEST_M}) j(j)
  JOIN lut l ON CAST(l.centroid AS BIGINT) = CAST(c.centroid AS BIGINT)
            AND l.j = j.j AND l.c = c.codes[j.j + 1]
  GROUP BY 1
),
short AS (SELECT vec_id FROM s ORDER BY score ASC, vec_id LIMIT 50),
q2 AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT v.vec_id,
       ROUND(list_dot_product(v.embedding::DOUBLE[], q2.qv), 6) AS score
FROM vecs v JOIN short s ON s.vec_id = v.vec_id CROSS JOIN q2
WHERE list_dot_product(v.embedding::DOUBLE[], q2.qv) IS NOT NULL
ORDER BY score DESC, v.vec_id ASC
LIMIT 10
"""


@_register("ann_ivfpq_snapshot_retention", _ivfpq_retention_sql())
def ann_ivfpq_snapshot_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention on the memory-bound tier — same fold + fresh-epoch
    commits + `load(as_of=(0, 2))` contract as the SQ8 row (one
    retention rule for both persisted tiers), LUT-ADC shortlist and
    exact re-rank both reading the retained pre-fold view with epoch 0's
    own codebooks."""
    import json as _json
    import shutil

    from whatsapp_vectordb_spark.operators.ann import IvfPqIndex

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    shutil.rmtree(_IVFPQ_RET_DIR, ignore_errors=True)
    IvfPqIndex.build(
        emb, n_centroids=8, m=_IVFPQ_INGEST_M, ksub=16, sample_rows=500
    ).save(_IVFPQ_RET_DIR, store_vectors=True)
    _, qvec = _mutate_index(IvfPqIndex, spark, emb, _IVFPQ_RET_DIR)
    IvfPqIndex.load(spark, _IVFPQ_RET_DIR).save(_IVFPQ_RET_DIR)  # FOLD
    # one post-fold load drives both epoch-1 deletes (SQ8 twin's note)
    tip = IvfPqIndex.load(spark, _IVFPQ_RET_DIR)
    tip.delete([3], path=_IVFPQ_RET_DIR)
    tip.delete([0], path=_IVFPQ_RET_DIR)
    with open(
        os.path.join(_IVFPQ_RET_DIR, "_retained", "00000001", "fold.json")
    ) as f:
        fold = _json.load(f)
    if fold.get("full") or fold.get("created"):
        raise RuntimeError(
            f"fold shape drifted (oracle assumes no created cells): {fold}"
        )
    snap = IvfPqIndex.load(spark, _IVFPQ_RET_DIR, as_of=(0, 2))
    _persist_ivfpq_probe_luts(spark, snap, qvec, _IVFPQ_RET_DIR)
    return snap.search(None, qvec, k=10, nprobe=2, shortlist=50)


# ---------------------------------------------------------------------------
# MAINTENANCE TICK — the compactor loop's one decision per index per
# interval: poll `layout_mutation_stats` (a directory listing, no Spark
# job) and fold the tip only when the accumulated commit state crosses
# a threshold. The row runs the full three-commit scenario, proves the
# tick DECLINES under lax thresholds and FOLDS under tight ones, then
# serves from the folded layout probing EVERY cell. The SQ8 oracle is
# fully SEMANTIC — it never reads the folded artifact: the visible set
# and each id's embedding are recomputed from the `embeddings` table
# and the scenario's algebra (ids %20==3 gone unless %40==3; ids
# %10==3 carry the query's own vector), codes re-derived by the SQ8
# encode replay. A fold that LOSES a visible row or LEAKS a deleted one
# breaks the hash — the one check the mutate rows (whose oracle reads
# the commit log the engine wrote) cannot make after the log is folded
# away.

_IVF_SQ8_TICK_DIR = _oracle_scratch("ivf_sq8_tick")

# the scenario's final visibility, in SQL: replaced ids serve the
# query's own embedding; ids deleted at seq2 stay gone unless re-added
# at seq3 (used by both tick oracles)
_TICK_VIS_CTE = """
vis AS (
  SELECT e.vec_id,
         CASE WHEN e.vec_id % 40 = 3
                   OR (e.vec_id % 10 = 3 AND e.vec_id % 20 <> 3)
              THEN q0.qe ELSE e.embedding END AS embedding
  FROM embeddings e
  CROSS JOIN (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q0
  WHERE NOT (e.vec_id % 20 = 3 AND e.vec_id % 40 <> 3)
)"""


def _sq8_semantic_serve_sql(vis_cte: str, scaler_from: str = "embeddings") -> str:
    """All-cells SQ8 serve against a SEMANTIC visible set: the caller
    supplies a `vis` CTE (vec_id, embedding = what should be visible
    and what each id should embed), this wraps it with the SQ8 encode
    replay, integer ADC over every visible row, shortlist, exact
    re-rank over vis. ``scaler_from`` picks where the per-dim min/max
    trains: ``"embeddings"`` replays the FROZEN build-time scaler (the
    maintenance-tick row and the streaming CDC-with-tick twin — folds
    never retrain), ``"vis"`` replays a RETRAINED scaler over the
    post-mutation visible set (the rebuild row). One body — a fix to
    the clamp/rounding replay lands in every semantic oracle at once."""
    stats_src = "vx" if scaler_from == "vis" else "exf"
    return f"""
WITH {vis_cte},
exf AS (
  SELECT vec_id, unnest(embedding) AS x,
         unnest(range(1, len(embedding) + 1)) AS d
  FROM embeddings
),
vx AS (
  SELECT vec_id, unnest(embedding) AS x,
         unnest(range(1, len(embedding) + 1)) AS d
  FROM vis
),
stats AS (SELECT d, MIN(x::DOUBLE) AS mn, MAX(x::DOUBLE) AS mx FROM {stats_src} GROUP BY d),
sd AS (SELECT d, mn,
              CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS dl
       FROM stats),
qv8 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
wgt AS (
  SELECT s.d, s.mn, s.dl,
         CAST(floor(qe[s.d]::DOUBLE * s.dl * 1000000000 + 0.5) AS BIGINT) AS w
  FROM sd s, qv8
),
iscores AS (
  SELECT v.vec_id,
         SUM(LEAST(255, GREATEST(0,
               CAST(floor((v.x::DOUBLE - g.mn) / g.dl + 0.5) AS BIGINT))) * g.w
         ) AS score_int
  FROM vx v JOIN wgt g ON g.d = v.d
  GROUP BY v.vec_id
),
short AS (SELECT vec_id FROM iscores ORDER BY score_int DESC, vec_id LIMIT 50),
q2 AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT v.vec_id,
       ROUND(list_dot_product(v.embedding::DOUBLE[], q2.qv), 6) AS score
FROM vis v JOIN short s ON s.vec_id = v.vec_id CROSS JOIN q2
WHERE list_dot_product(v.embedding::DOUBLE[], q2.qv) IS NOT NULL
ORDER BY score DESC, v.vec_id ASC
LIMIT 10
"""


def _ivf_sq8_tick_sql() -> str:
    return _sq8_semantic_serve_sql(_TICK_VIS_CTE)


@_register("ann_ivf_sq8_maintenance_tick", _ivf_sq8_tick_sql())
def ann_ivf_sq8_maintenance_tick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-driven compaction on the 4×-compression tier (block
    comment above): tick declines under lax thresholds, folds under
    tight ones (the bounded O(touched-cells) fold), and the folded
    layout serves the exact visibility the commit history implies —
    gated against a fully semantic oracle that never reads the folded
    artifact. Probes every cell so the check covers the whole corpus,
    not a pruned slice."""
    import shutil

    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        maintenance_tick,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    shutil.rmtree(_IVF_SQ8_TICK_DIR, ignore_errors=True)
    IvfSq8Index.build(emb, n_centroids=_KM_K).save(
        _IVF_SQ8_TICK_DIR, store_vectors=True
    )
    _, qvec = _mutate_index(IvfSq8Index, spark, emb, _IVF_SQ8_TICK_DIR)
    lax = maintenance_tick(
        IvfSq8Index, spark, _IVF_SQ8_TICK_DIR,
        max_data_commits=64, max_tombstone_commits=64,
    )
    tight = maintenance_tick(
        IvfSq8Index, spark, _IVF_SQ8_TICK_DIR,
        max_data_commits=1, max_tombstone_commits=1,
    )
    if (
        lax["folded"]
        or not tight["folded"]
        or tight["after"]["batch_commits"] != 0
        or tight["after"]["tombstone_commits"] != 0
    ):
        raise RuntimeError(
            f"maintenance_tick contract violated: lax={lax} tight={tight}"
        )
    folded = IvfSq8Index.load(spark, _IVF_SQ8_TICK_DIR)
    return folded.search(None, qvec, k=10, nprobe=_KM_K, shortlist=50)


_IVFPQ_TICK_DIR = _oracle_scratch("ivfpq_tick")


def _ivfpq_semantic_serve_sql(d: str) -> str:
    """The PQ tiers' post-fold gate, shared by the tick and rebuild
    rows (one body — the LUT join and tie-breaks can never diverge
    between the two oracles): LUT-ADC shortlist from the FOLDED base
    codes at ``d`` (post-fold there is no commit log left to replay —
    the lut/probe side files pin the engine's integer tables) + exact
    re-rank against the SEMANTIC visible set. A fold/rebuild that leaks
    a deleted id puts it in both shortlists, the engine serves it from
    its (leaked) float store, and the oracle's vis join drops it — hash
    breaks. Row loss on this tier is covered by the SQ8 twins through
    the shared `_PersistedIvfIndex.save` / `_fold_touched` /
    `rebuild_layout` implementations."""
    return f"""
WITH codes AS (
  SELECT vec_id, codes, centroid
  FROM read_parquet('{d}/codes/*/*.parquet', hive_partitioning = 1)
),
probes AS (SELECT centroid FROM read_parquet('{d}/probe/*.parquet')),
lut AS (SELECT * FROM read_parquet('{d}/lut/*.parquet')),
s AS (
  SELECT c.vec_id, CAST(SUM(l.w) AS BIGINT) AS score
  FROM codes c
  JOIN probes p ON CAST(c.centroid AS BIGINT) = CAST(p.centroid AS BIGINT)
  CROSS JOIN range(0,{_IVFPQ_INGEST_M}) j(j)
  JOIN lut l ON CAST(l.centroid AS BIGINT) = CAST(c.centroid AS BIGINT)
            AND l.j = j.j AND l.c = c.codes[j.j + 1]
  GROUP BY 1
),
short AS (SELECT vec_id FROM s ORDER BY score ASC, vec_id LIMIT 50),
{_TICK_VIS_CTE.lstrip()},
q2 AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT v.vec_id,
       ROUND(list_dot_product(v.embedding::DOUBLE[], q2.qv), 6) AS score
FROM vis v JOIN short s ON s.vec_id = v.vec_id CROSS JOIN q2
WHERE list_dot_product(v.embedding::DOUBLE[], q2.qv) IS NOT NULL
ORDER BY score DESC, v.vec_id ASC
LIMIT 10
"""


def _ivfpq_tick_sql() -> str:
    return _ivfpq_semantic_serve_sql(_IVFPQ_TICK_DIR)


@_register("ann_ivfpq_maintenance_tick", _ivfpq_tick_sql())
def ann_ivfpq_maintenance_tick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-driven compaction on the memory-bound tier — same tick,
    same thresholds, LUT-ADC serving from the folded layout; deleted-id
    leaks gated semantically (see `_ivfpq_tick_sql`)."""
    import shutil

    from whatsapp_vectordb_spark.operators.ann import (
        IvfPqIndex,
        maintenance_tick,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    shutil.rmtree(_IVFPQ_TICK_DIR, ignore_errors=True)
    IvfPqIndex.build(
        emb, n_centroids=8, m=_IVFPQ_INGEST_M, ksub=16, sample_rows=500
    ).save(_IVFPQ_TICK_DIR, store_vectors=True)
    _, qvec = _mutate_index(IvfPqIndex, spark, emb, _IVFPQ_TICK_DIR)
    tight = maintenance_tick(
        IvfPqIndex, spark, _IVFPQ_TICK_DIR,
        max_data_commits=1, max_tombstone_commits=1,
    )
    if not tight["folded"] or tight["after"]["batch_commits"] != 0:
        raise RuntimeError(f"maintenance_tick contract violated: {tight}")
    idx = IvfPqIndex.load(spark, _IVFPQ_TICK_DIR)
    _persist_ivfpq_probe_luts(spark, idx, qvec, _IVFPQ_TICK_DIR, nprobe=8)
    return idx.search(None, qvec, k=10, nprobe=8, shortlist=50)


# ---------------------------------------------------------------------------
# REBUILD (drift remediation) — the maintenance escalation past
# folding: `rebuild_layout` re-trains quantizer + scaler/codebooks from
# the CURRENT visible corpus and atomically replaces the layout. The
# scenario mutates the corpus first (the three-commit algebra), so the
# rebuilt SQ8 scaler is trained on the POST-mutation visible set — the
# oracle replays exactly that: per-dim min/max over the semantic `vis`
# CTE (NOT the raw table), encode replay of vis with that scaler,
# shortlist, exact re-rank. A rebuild that trains or encodes deleted
# rows, loses visible ones, or serves stale-scaler codes breaks the
# hash.

_IVF_SQ8_REBUILD_DIR = _oracle_scratch("ivf_sq8_rebuild")


def _ivf_sq8_rebuild_sql() -> str:
    return _sq8_semantic_serve_sql(_TICK_VIS_CTE, scaler_from="vis")


@_register("ann_ivf_sq8_rebuild", _ivf_sq8_rebuild_sql())
def ann_ivf_sq8_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-remediation rebuild on the 4×-compression tier (block
    comment above): after the three-commit mutation scenario,
    ``rebuild_layout`` re-trains the coarse quantizer AND the SQ8
    scaler from the visible corpus and atomically replaces the layout
    (commit log folds away; batches reset to zero). Serves every cell
    so the semantic gate covers the whole corpus."""
    import shutil

    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        layout_mutation_stats,
        rebuild_layout,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    shutil.rmtree(_IVF_SQ8_REBUILD_DIR, ignore_errors=True)
    IvfSq8Index.build(emb, n_centroids=_KM_K).save(
        _IVF_SQ8_REBUILD_DIR, store_vectors=True
    )
    _, qvec = _mutate_index(IvfSq8Index, spark, emb, _IVF_SQ8_REBUILD_DIR)
    rebuilt = rebuild_layout(
        IvfSq8Index, spark, _IVF_SQ8_REBUILD_DIR, n_centroids=_KM_K
    )
    if layout_mutation_stats(_IVF_SQ8_REBUILD_DIR)["batch_commits"] != 0:
        raise RuntimeError("rebuild left mutation commits behind")
    return rebuilt.search(None, qvec, k=10, nprobe=_KM_K, shortlist=50)


_IVFPQ_REBUILD_DIR = _oracle_scratch("ivfpq_rebuild")


def _ivfpq_rebuild_sql() -> str:
    """The PQ tier's rebuild gate — the shared `_ivfpq_semantic_serve_sql`
    body over the rebuild scratch dir: a rebuild that encodes a deleted
    row serves it while the oracle's vis join drops it — hash breaks.
    Scaler/codebook retraining is gated exactly on the SQ8 twin (whose
    oracle recomputes the retrained scaler in SQL); the codebooks here
    are sample-trained persisted state, replayed via the LUT side files
    like every other PQ row."""
    return _ivfpq_semantic_serve_sql(_IVFPQ_REBUILD_DIR)


@_register("ann_ivfpq_rebuild", _ivfpq_rebuild_sql())
def ann_ivfpq_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-remediation rebuild on the memory-bound tier: coarse
    quantizer and residual codebooks re-train on the visible corpus,
    the layout atomically replaces, and LUT-ADC serving from the
    rebuilt codes is gated against the semantic visible set."""
    import shutil

    from whatsapp_vectordb_spark.operators.ann import (
        IvfPqIndex,
        layout_mutation_stats,
        rebuild_layout,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    shutil.rmtree(_IVFPQ_REBUILD_DIR, ignore_errors=True)
    IvfPqIndex.build(
        emb, n_centroids=8, m=_IVFPQ_INGEST_M, ksub=16, sample_rows=500
    ).save(_IVFPQ_REBUILD_DIR, store_vectors=True)
    _, qvec = _mutate_index(IvfPqIndex, spark, emb, _IVFPQ_REBUILD_DIR)
    rebuilt = rebuild_layout(
        IvfPqIndex, spark, _IVFPQ_REBUILD_DIR,
        n_centroids=8, m=_IVFPQ_INGEST_M, ksub=16, sample_rows=500,
    )
    if layout_mutation_stats(_IVFPQ_REBUILD_DIR)["batch_commits"] != 0:
        raise RuntimeError("rebuild left mutation commits behind")
    _persist_ivfpq_probe_luts(spark, rebuilt, qvec, _IVFPQ_REBUILD_DIR, nprobe=8)
    return rebuilt.search(None, qvec, k=10, nprobe=8, shortlist=50)


# ==========================================================================
# Round 17: graph-ANN beam search (operators/ann.py graph_beam_topk) — the
# third ANN access pattern (navigate edges toward the query) joining the
# cell-probe (IVF*) and hash-bucket (LSH) families. The kNN graph edge
# list persists to scratch (it is itself the oracle-checked ann_knn_graph
# construction, bit-exact portable LSH candidates); the oracle replays the
# ENTIRE traversal — entry frontier, every expand/score/cut round, the
# visited-set top-k — as statically unrolled CTEs over the same edges.
# ==========================================================================

_GRAPH_BEAM_DIR = _oracle_scratch("graph_beam_oracle")


def _graph_beam_cte(iters: int, beam: int, entry: int, dir_: str) -> str:
    """WITH-body of the unrolled fixed-iteration beam traversal:
    c_t = frontier ∪ out-neighbors(frontier), f_t = top-``beam`` of c_t
    by (rounded cosine DESC, id ASC); ends with ``v`` (the visited set)
    and ``sc`` (rounded scores) for the caller's final select.
    Generated from the SAME (iters, beam, entry) literals the Spark
    row passes, so the two sides cannot drift."""
    ctes = [
        # bucketed layout: parts live under edges/src_bucket=N/
        f"e AS (SELECT src, nbr FROM read_parquet('{dir_}/edges/*/*.parquet'))",
        "q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)",
        "sc AS (SELECT m.vec_id, ROUND(list_cosine_similarity(m.embedding::DOUBLE[], q.qv), 6) AS s"
        " FROM embeddings m, q"
        " WHERE list_cosine_similarity(m.embedding::DOUBLE[], q.qv) IS NOT NULL)",
        f"f0 AS (SELECT vec_id FROM embeddings ORDER BY vec_id ASC LIMIT {entry})",
    ]
    prev = "f0"
    cands = []
    for t in range(1, iters + 1):
        ctes.append(
            f"c{t} AS (SELECT DISTINCT vec_id FROM ("
            f"SELECT vec_id FROM {prev} UNION ALL "
            f"SELECT e.nbr AS vec_id FROM e JOIN {prev} ON e.src = {prev}.vec_id))"
        )
        ctes.append(
            f"f{t} AS (SELECT c{t}.vec_id FROM c{t} JOIN sc ON sc.vec_id = c{t}.vec_id"
            f" ORDER BY sc.s DESC, c{t}.vec_id ASC LIMIT {beam})"
        )
        cands.append(f"SELECT vec_id FROM c{t}")
        prev = f"f{t}"
    ctes.append("v AS (" + " UNION ".join(cands) + ")")
    return "WITH " + ",\n".join(ctes)


def _graph_beam_oracle(iters: int, beam: int, entry: int, k: int) -> str:
    """Visited top-``k`` of the unrolled traversal (see _graph_beam_cte)."""
    return (
        _graph_beam_cte(iters, beam, entry, _GRAPH_BEAM_DIR)
        + f"""
SELECT v.vec_id, sc.s AS score
FROM v JOIN sc ON sc.vec_id = v.vec_id
ORDER BY score DESC, v.vec_id ASC
LIMIT {k}
"""
    )


@_register("ann_graph_beam_topk", _graph_beam_oracle(iters=3, beam=8, entry=4, k=10))
def ann_graph_beam_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the kNN graph (the already-gated ann_knn_graph construction),
    persist it SOURCE-BUCKETED (save_knn_graph), then beam-search it: 3
    broadcast-frontier hops from the 4 lowest ids, beam 8, visited
    top-10. Each hop's bucket IN-list reaches the edge layout as
    PartitionFilters, so a hop reads only the frontier's buckets —
    per-hop cost independent of corpus size (the graph-ANN scale story,
    measured in tools/stress_graph_beam.py)."""
    from whatsapp_vectordb_spark.operators.ann import (
        graph_beam_topk,
        knn_graph_lsh,
        save_knn_graph,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    edges = save_knn_graph(
        knn_graph_lsh(emb, k=5, n_planes=32, bands=4, dim=64),
        os.path.join(_GRAPH_BEAM_DIR, "edges"),
        n_buckets=16,
    )
    return graph_beam_topk(
        emb,
        edges,
        qvec,
        k=10,
        beam_width=8,
        iters=3,
        n_entry=4,
        bucket_col="src_bucket",
        n_buckets=16,
    )


# Recall gate for the beam tier — the family discipline (every ANN tier
# carries one; the recall NUMBER is hash-checked, answer quality is part
# of the contract). Geometry: a DENSER graph than the topk row (k=10
# neighbors from 8 bands of 4 bits — graph connectivity is what bounds
# beam recall: the k=5/4-band graph plateaus at 0.5 from the fixed
# entries, the k=10/8-band graph reaches 0.9-1.0) and a wider traversal
# (beam 16, 4 hops, 8 entries). Measured 0.9 at sf0.01.
_GRAPH_BEAM_GATE_DIR = _oracle_scratch("graph_beam_gate_oracle")

_GRAPH_BEAM_GATE_ORACLE = (
    _graph_beam_cte(iters=4, beam=16, entry=8, dir_=_GRAPH_BEAM_GATE_DIR)
    + """,
ann AS (
  SELECT v.vec_id FROM v JOIN sc ON sc.vec_id = v.vec_id
  ORDER BY sc.s DESC, v.vec_id ASC
  LIMIT 10
),
exact AS (
  SELECT vec_id FROM sc
  ORDER BY s DESC, vec_id ASC
  LIMIT 10
)
SELECT CAST(10 AS BIGINT) AS k, ROUND(CAST(COUNT(*) AS DOUBLE) / 10.0, 6) AS recall
FROM ann JOIN exact ON ann.vec_id = exact.vec_id
"""
)


@_register("ann_graph_beam_recall_gate", _GRAPH_BEAM_GATE_ORACLE)
def ann_graph_beam_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the beam traversal vs exact brute-force top-10 over
    the denser serving graph — a single ``(k, recall)`` row, hash-
    checked (0.9 at sf0.01). The knob hierarchy mirrors IVF's
    nprobe/shortlist: graph degree+bands buy connectivity (reach),
    beam/iters/entries buy traversal coverage; past the connectivity
    ceiling more beam cannot help (measured: the sparse graph plateaus
    at 0.5 under a 4× wider beam)."""
    from whatsapp_vectordb_spark.operators.ann import (
        graph_beam_topk,
        knn_graph_lsh,
        save_knn_graph,
    )
    from whatsapp_vectordb_spark.operators.search import topk

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    edges = save_knn_graph(
        knn_graph_lsh(emb, k=10, n_planes=32, bands=8, dim=64),
        os.path.join(_GRAPH_BEAM_GATE_DIR, "edges"),
        n_buckets=16,
    )
    beam_ids = graph_beam_topk(
        emb,
        edges,
        qvec,
        k=10,
        beam_width=16,
        iters=4,
        n_entry=8,
        bucket_col="src_bucket",
        n_buckets=16,
    ).select("vec_id")
    exact_ids = topk(emb, qvec, k=10, round_to=ROUND_SCORE).select("vec_id")
    return (
        beam_ids.join(exact_ids, "vec_id")
        .agg(F.count("*").alias("hits"))
        .select(
            F.lit(10).cast("long").alias("k"),
            F.round(F.col("hits").cast("double") / F.lit(10.0), 6).alias(
                "recall"
            ),
        )
    )


# Batched beam — the family discipline (N queries = one pruned read per
# hop stage, bit-equal to N single calls). Separate scratch dir so the
# three beam rows never clobber each other's persisted edges mid-check.
_GRAPH_BEAM_BATCH_DIR = _oracle_scratch("graph_beam_batched_oracle")


def _graph_beam_batched_oracle(
    iters: int, beam: int, entry: int, k: int, qids: tuple, dir_: str
) -> str:
    """Per-query unrolled traversals (shared edge list + entry frontier,
    per-query score CTEs) unioned, ranked per query — generated from the
    SAME literals the Spark row passes."""
    ctes = [
        f"e AS (SELECT src, nbr FROM read_parquet('{dir_}/edges/*/*.parquet'))",
        f"f0 AS (SELECT vec_id FROM embeddings ORDER BY vec_id ASC LIMIT {entry})",
    ]
    arms = []
    for q in qids:
        sc = f"sc_q{q}"
        ctes.append(
            f"{sc} AS (SELECT m.vec_id,"
            f" ROUND(list_cosine_similarity(m.embedding::DOUBLE[], qq.qv), 6) AS s"
            f" FROM embeddings m,"
            f" (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {q}) qq"
            f" WHERE list_cosine_similarity(m.embedding::DOUBLE[], qq.qv) IS NOT NULL)"
        )
        prev = "f0"
        cands = []
        for t in range(1, iters + 1):
            ctes.append(
                f"c{t}_q{q} AS (SELECT DISTINCT vec_id FROM ("
                f"SELECT vec_id FROM {prev} UNION ALL "
                f"SELECT e.nbr AS vec_id FROM e JOIN {prev} ON e.src = {prev}.vec_id))"
            )
            ctes.append(
                f"f{t}_q{q} AS (SELECT c.vec_id FROM c{t}_q{q} c"
                f" JOIN {sc} ON {sc}.vec_id = c.vec_id"
                f" ORDER BY {sc}.s DESC, c.vec_id ASC LIMIT {beam})"
            )
            cands.append(f"SELECT vec_id FROM c{t}_q{q}")
            prev = f"f{t}_q{q}"
        ctes.append(f"v_q{q} AS (" + " UNION ".join(cands) + ")")
        arms.append(
            f"SELECT CAST({q} AS BIGINT) AS query_id, v.vec_id, {sc}.s AS score"
            f" FROM v_q{q} v JOIN {sc} ON {sc}.vec_id = v.vec_id"
        )
    ctes.append("allv AS (" + " UNION ALL ".join(arms) + ")")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT query_id, vec_id, score, CAST(rank AS INTEGER) AS rank FROM (
  SELECT query_id, vec_id, score,
         ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, vec_id ASC
         ) AS rank
  FROM allv
) WHERE rank <= {k}
ORDER BY query_id, rank
"""
    )


@_register(
    "ann_graph_beam_batched",
    _graph_beam_batched_oracle(
        iters=3, beam=8, entry=4, k=5, qids=(0, 1, 2),
        dir_=_GRAPH_BEAM_BATCH_DIR,
    ),
)
def ann_graph_beam_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three stored queries walk the bucketed graph together: per hop
    ONE edge read pruned to the union of frontiers' buckets and ONE
    vector read pruned to the union of first-seen candidates, scored
    against the broadcast query frame — bit-equal to three single
    traversals (asserted in tests/test_graph.py)."""
    from whatsapp_vectordb_spark.operators.ann import (
        graph_beam_topk_batched,
        knn_graph_lsh,
        save_knn_graph,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    edges = save_knn_graph(
        knn_graph_lsh(emb, k=5, n_planes=32, bands=4, dim=64),
        os.path.join(_GRAPH_BEAM_BATCH_DIR, "edges"),
        n_buckets=16,
    )
    return graph_beam_topk_batched(
        emb,
        edges,
        [0, 1, 2],
        k=5,
        beam_width=8,
        iters=3,
        n_entry=4,
        bucket_col="src_bucket",
        n_buckets=16,
    )


# Filtered beam — the family's filtered-search variant, in the HNSW
# convention: navigation UNfiltered (pruning disallowed hubs would
# disconnect the graph exactly where the filter is selective), the
# filter applies to result collection (visited ∩ allowed). Uses the
# denser serving graph (the recall-gate geometry) so the visited set
# covers the allowed region.
_GRAPH_BEAM_FILTER_DIR = _oracle_scratch("graph_beam_filtered_oracle")

_GRAPH_BEAM_FILTERED_ORACLE = (
    _graph_beam_cte(iters=4, beam=16, entry=8, dir_=_GRAPH_BEAM_FILTER_DIR)
    + """
SELECT v.vec_id, sc.s AS score
FROM v
JOIN sc ON sc.vec_id = v.vec_id
JOIN embeddings em ON em.vec_id = v.vec_id
WHERE em.label = (SELECT label FROM embeddings WHERE vec_id = 7)
ORDER BY score DESC, v.vec_id ASC
LIMIT 10
"""
)


@_register("ann_graph_beam_filtered_topk", _GRAPH_BEAM_FILTERED_ORACLE)
def ann_graph_beam_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 among visited embeddings sharing vec_id 7's label: the
    walk navigates the full graph (beam-16 × 4 hops over the dense
    k=10/8-band graph), the label's id set broadcast-semi-joins the
    visited scores. Unlike the cell-probe tiers' pre-scan filter, k
    matches are NOT guaranteed — the documented filtered-beam
    trade-off; at this geometry the visited set covers the label."""
    from whatsapp_vectordb_spark.operators.ann import (
        graph_beam_topk,
        knn_graph_lsh,
        save_knn_graph,
    )

    emb3 = _t(spark, sf_dir, "embeddings")
    emb = emb3.select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    lbl = emb3.where(F.col("vec_id") == 7).head()["label"]
    allowed = emb3.where(F.col("label") == lbl).select("vec_id")
    edges = save_knn_graph(
        knn_graph_lsh(emb, k=10, n_planes=32, bands=8, dim=64),
        os.path.join(_GRAPH_BEAM_FILTER_DIR, "edges"),
        n_buckets=16,
    )
    return graph_beam_topk(
        emb,
        edges,
        qvec,
        k=10,
        beam_width=16,
        iters=4,
        n_entry=8,
        bucket_col="src_bucket",
        n_buckets=16,
        allowed=allowed,
    )


# Incremental graph maintenance — the graph tier's lifecycle closure
# (operators/graph_index.py KnnGraphIndex): ingest in batches, compact
# via the maintenance-tick policy, serve the per-node top-k. The ORACLE
# IS THE ONE-SHOT GRAPH SQL (shared with ann_knn_graph verbatim): the
# LSH candidate set is union-decomposable and the stored per-batch pair
# tables union to exactly it, so a two-batch ingest folded by the
# compactor must reproduce the single-pass build bit for bit — the
# batch-split-invariance contract, checked against DuckDB.


@_register("ann_graph_incremental_index", _ANN_KNN_GRAPH_ORACLE)
def ann_graph_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch ingest (even ids, then odd) + a zero-threshold
    maintenance tick (compaction with retained victims) + edges() —
    must equal the one-shot knn_graph_lsh over the union."""
    import shutil
    import tempfile

    from whatsapp_vectordb_spark.operators.graph_index import KnnGraphIndex
    from whatsapp_vectordb_spark.session import local_df, local_scratch_root

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    path = tempfile.mkdtemp(prefix="wvs_kgi_", dir=local_scratch_root())
    shutil.rmtree(path, ignore_errors=True)
    idx = KnnGraphIndex(spark, path, k=5, n_planes=32, bands=4, dim=64)
    idx.add_batch(emb.where(F.col("vec_id") % 2 == 0))
    idx.add_batch(emb.where(F.col("vec_id") % 2 == 1))
    tick = idx.maintenance_tick(max_live_dirs=1)
    if not tick["compacted"]:
        raise RuntimeError("tick should have folded two live dirs")
    out = idx.edges()
    # pin the bounded result so the scratch dir can be reclaimed by the
    # session end regardless of when the driver collects
    return out.localCheckpoint(eager=True)
