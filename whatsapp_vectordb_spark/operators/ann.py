"""Approximate nearest-neighbor search — the 100 TB scale path.

Exact brute force (operators/search.py) is a full scan per query batch;
fine up to ~10^8 vectors × small query counts, wrong at 100 TB. Two
ANN strategies, both pure DataFrame-to-DataFrame (no custom Catalyst):

- **Random-hyperplane LSH** (``portable_lsh_*``): sign-bit signatures
  under ``n_planes`` fixed ±1 hyperplanes → vectors bucketed by signature
  band; a query probes only matching buckets. Collision probability for
  angle θ is (1 - θ/π)^bits — band/rows tuning identical to MinHash.
  Signatures are one Arrow-batched int64 matmul per partition over
  integer-quantized vectors, so a SQL oracle reproduces every bucket.
- **IVF (inverted-file) partitioning** (``IvfIndex``): k-means coarse
  centroids (MLlib); each vector is assigned to its nearest centroid and
  the table is *written partitioned by centroid id*. A query scores the
  ``nprobe`` nearest centroids and scans only those partitions —
  partition pruning does the work of an index.

Recall is tested against exact top-k in tests/test_ann.py.
"""

from __future__ import annotations

import math
import os

import numpy as np
from pyspark.sql import DataFrame

from whatsapp_vectordb_spark.session import local_df
from pyspark.sql import functions as F

from whatsapp_vectordb_spark.commitlog import (
    _batch_names_checked,
    _commit,
    _fsck,
    _gc_staging,
    _parse_seq,
    _writer_lease,
)
from whatsapp_vectordb_spark.functions.vector import array_lit, cosine_similarity
from whatsapp_vectordb_spark.operators.search import topk


def _cluster_for_write(df: DataFrame, col: str = "centroid") -> DataFrame:
    """Cluster rows by the partition column before a ``partitionBy(col)``
    parquet write. Without it every input task writes one file per value
    it happens to hold — tasks × cells files (256 ~3 KB files per layout
    table at the bench scale; measured r17: the 256-file commit made the
    same write 4× slower and every later pruned scan ~2× slower). AQE's
    REBALANCE both coalesces small cells into shared write tasks and
    splits oversized cells at ``advisoryPartitionSizeInBytes``, so files
    come out near target size at ANY corpus scale — the Iceberg
    ``write.distribution-mode=hash`` layout, per the optimization
    guide's small-files rule. Row contents are untouched."""
    return df.hint("rebalance", col)


def _run_writes(thunks) -> None:
    """Run independent write actions concurrently (guide §2.6: Spark's
    scheduler happily runs several jobs at once; actions are only
    sequential because driver code calls them sequentially). The staged
    layout tables of one commit — codes, co-located floats, tombstones —
    are independent jobs over the same pinned input, so submitting them
    from a small thread pool lets each job's task tail back-fill the
    others' idle cores instead of serializing three commit latencies."""
    if len(thunks) == 1:
        thunks[0]()
        return
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import SparkSession
    from pyspark.util import inheritable_thread_target

    # each thunk carries the caller's Spark local properties (job group,
    # description) and job tags into its pool thread, so the writes'
    # jobs count under the verb that runs them
    inherit = inheritable_thread_target(SparkSession.active())
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inherit(t)) for t in thunks]
        for f in futures:
            f.result()


def _resolve_dim(index_df: DataFrame, vec_col: str, dim: int | None) -> int:
    """Vector dimension, preferably caller-provided (from the index
    registry, ``types.INDEX_REGISTRY_SCHEMA.dimension``). The ``head()``
    fallback is a driver-side scan-first-row job BEFORE the real query —
    acceptable interactively, wrong in a hot path on a big index."""
    if dim is not None:
        return dim
    row = index_df.select(vec_col).where(F.col(vec_col).isNotNull()).head()
    if row is None:
        raise ValueError(
            f"cannot infer vector dimension: no non-null '{vec_col}' rows in "
            "the index; pass dim= explicitly (it lives in the index registry)"
        )
    return len(row[0])


def _stored_query_vec(index_df: DataFrame, id_col: str, vec_col: str, query_id):
    """Fetch a stored query vector by id — a point-lookup job — with a
    clear error instead of `NoneType is not subscriptable` when absent."""
    row = index_df.where(F.col(id_col) == query_id).select(vec_col).head()
    if row is None or row[0] is None:
        raise ValueError(
            f"query_id {query_id!r} not found in index (or its '{vec_col}' is null)"
        )
    return row[0]


# ---------------------------------------------------------------------------
# Portable LSH: sign-random-projection where every arithmetic step is
# exact-integer so a SQL oracle reproduces buckets bit-for-bit: components
# quantized to round(x·10^6) BIGINT, hyperplanes are ±1 vectors derived from
# md5 nibbles. Integer sums are order-independent, so the Arrow kernel's
# int64 matmul and DuckDB's vectorized sum agree exactly — no float-sign
# flakiness at the bucket boundary.
# ---------------------------------------------------------------------------

PORTABLE_QUANT = 1_000_000


def portable_planes(dim: int, n_planes: int, seed: int = 0) -> list[list[int]]:
    """±1 hyperplanes from md5: component (p, i) is +1 iff the low bit of
    the first hex nibble of md5('<seed>:<p>:<i>') is set. SQL twin:
    ``('0x' || substr(md5(seed||':'||p||':'||i), 1, 1))::BIGINT & 1``."""
    import hashlib

    return [
        [
            1 if (int(hashlib.md5(f"{seed}:{p}:{i}".encode()).hexdigest()[0], 16) & 1) else -1
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def portable_signature_numpy(df: DataFrame, planes, id_col: str, vec_col: str) -> DataFrame:
    """``(id, _sig)``: each vector's portable signature — quantize → int64
    dot with every ±1 plane → sign bit — as one Arrow-batched matmul per
    partition. Rows with a NULL vector get no signature: they can never
    verify against anything, so they never become a candidate."""
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    pl = np.asarray(planes, dtype=np.int64)  # (P, dim)
    # (id, _sig) ONLY: every consumer bands the signature and re-acquires
    # vectors by id afterwards, so carrying the vector through the Python
    # hop would ship the whole index through Arrow twice for nothing
    # (2.4 GB each way at 200k × dim 1536)
    out_schema = StructType(
        [df.schema[id_col], StructField("_sig", StringType())]
    )

    def sign_bits(batches):
        for pdf in batches:
            # the embedder emits NULL for empty or tokenless text; asarray
            # would raise on such a row
            pdf = pdf[pdf[vec_col].notna()]
            if pdf.empty:
                continue
            v = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            q = np.round(v * PORTABLE_QUANT).astype(np.int64)  # (n, dim)
            bits = (q @ pl.T) >= 0  # (n, P)
            sigs = ["".join("1" if b else "0" for b in row) for row in bits]
            yield pd.DataFrame({id_col: pdf[id_col], "_sig": sigs})

    return df.select(id_col, vec_col).mapInPandas(sign_bits, schema=out_schema)


def _query_signature(query_vec, planes) -> str:
    """One vector's portable signature, driver-side — identical math to
    ``portable_signature_numpy`` (quantize → int64 dot → sign)."""
    pl = np.asarray(planes, dtype=np.int64)
    q = np.round(np.asarray(query_vec, dtype=np.float64) * PORTABLE_QUANT).astype(np.int64)
    return "".join("1" if b else "0" for b in (pl @ q) >= 0)


def _portable_bands(
    df: DataFrame, planes, bands: int, id_col: str, vec_col: str
) -> DataFrame:
    """``(id, band, chunk)``: each signature split into ``bands`` chunks of
    ``len(planes) // bands`` bits — the band keys every portable-LSH
    operator and ``KnnGraphIndex`` join on, so stored and one-shot keys are
    bit-compatible by construction. Only the id rides through the explode;
    candidates re-acquire vectors by id afterwards."""
    rows_per_band = len(planes) // bands
    sig = portable_signature_numpy(df, planes, id_col, vec_col)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.substring("_sig", b * rows_per_band + 1, rows_per_band).alias("chunk"),
        )
        for b in range(bands)
    ]
    return sig.select(id_col, F.explode(F.array(*band_structs)).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.chunk").alias("chunk")
    )


def _query_bands(query_vec, planes, bands: int) -> list[tuple[int, str]]:
    """The query's ``(band, chunk)`` keys, driver-side — the same split
    ``_portable_bands`` applies to the index."""
    rows_per_band = len(planes) // bands
    qsig = _query_signature(query_vec, planes)
    return [
        (b, qsig[b * rows_per_band : (b + 1) * rows_per_band]) for b in range(bands)
    ]


def _bucket_candidates(
    index_df: DataFrame, planes, bands: int, probes, id_col: str, vec_col: str
) -> DataFrame:
    """``(id, vec)`` of the index rows sharing ≥1 probe ``(band, chunk)``
    key, the probe keys broadcast against the banded index. Callers build
    the probes driver-side from the query vector (a point lookup + a (P,)
    matvec), never by a second signature scan of the index to read the
    query's row."""
    qb = index_df.sparkSession.createDataFrame(probes, "band int, chunk string")
    cand_ids = (
        _portable_bands(index_df, planes, bands, id_col, vec_col)
        .join(F.broadcast(qb), ["band", "chunk"])
        .select(id_col)
        .dropDuplicates([id_col])
    )
    return index_df.join(cand_ids, id_col).select(id_col, vec_col)


def portable_lsh_topk(
    index_df: DataFrame,
    query_id,
    k: int = 10,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k for a stored query vector (`query_id` row): candidates are
    vectors sharing ≥1 LSH band bucket with the query, then exact cosine
    top-k over candidates only.

    Plan shape: one Arrow signature map over the index, a broadcast join
    against the query's ``bands`` bucket keys (computed driver-side), then
    the TakeOrderedAndProject top-k — the full-scan cosine of ``topk`` is
    replaced by a bucket-pruned scan; recall and candidate volume are
    governed by (planes, bands): each band chunk has ``n_planes/bands``
    bits, so a random non-neighbor collides w.p. ≈ bands ·
    2^-(n_planes/bands) — size chunks ≥ 8 bits at scale. NULL vectors are
    never candidates.
    """
    dim = _resolve_dim(index_df, vec_col, dim)
    planes = portable_planes(dim, n_planes, seed)
    qvec = _stored_query_vec(index_df, id_col, vec_col, query_id)
    cand = _bucket_candidates(
        index_df, planes, bands, _query_bands(qvec, planes, bands), id_col, vec_col
    )
    return topk(cand, qvec, k=k, id_col=id_col, vec_col=vec_col, round_to=round_to)


def portable_lsh_topk_multiprobe(
    index_df: DataFrame,
    query_id,
    k: int = 10,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
    dim: int | None = None,
) -> DataFrame:
    """Multi-probe ANN top-k: in each band, probe the query's own bucket
    AND every bucket at Hamming distance 1 (each single-bit flip of the
    chunk). Near-neighbors that straddle one hyperplane land one bit away,
    so probing 1+rows_per_band buckets per band recovers most of the recall
    of doubling the table count — without a second signature pass or any
    extra index state (Lv et al., VLDB'07, applied to sign-LSH).

    Scale shape is unchanged from ``portable_lsh_topk``: one signature map
    over the index, probe keys built driver-side (bands × (1+rows_per_band)
    rows) and broadcast; candidate volume grows ~5× for 4-bit chunks but
    the index is still scanned once and never |probes|×N.
    """
    dim = _resolve_dim(index_df, vec_col, dim)
    planes = portable_planes(dim, n_planes, seed)
    qvec = _stored_query_vec(index_df, id_col, vec_col, query_id)
    # probe keys: the query's chunk plus each 1-bit flip of it, per band
    qbands = _query_bands(qvec, planes, bands)
    flips = [
        (b, c[:j] + "10"[int(c[j])] + c[j + 1 :])
        for b, c in qbands
        for j in range(len(c))
    ]
    cand = _bucket_candidates(
        index_df, planes, bands, sorted(set(qbands + flips)), id_col, vec_col
    )
    return topk(cand, qvec, k=k, id_col=id_col, vec_col=vec_col, round_to=round_to)


def portable_lsh_join(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 0,
    round_to: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Scale-safe embedding near-duplicate SELF-join: candidate pairs
    share ≥1 portable-LSH band bucket, then exact cosine verify ≥
    ``threshold``. This is the 100 TB shape for what
    ``dedup.embedding_near_duplicates`` computes all-pairs: the join is on
    (band, chunk) keys — shuffle proportional to bucket collisions, never
    O(n²) — and vectors never ride through the band explode; survivors
    re-acquire them by id for verification.

    Integer-exact signatures (quantize → ±1 md5 planes → sign) make the
    candidate set bit-reproducible in a SQL oracle. Recall follows the
    band S-curve: a true cos≈τ pair lands together w.p.
    1-(1-p^r)^b with p = 1 - θ/π; exact duplicates always collide.
    NULL vectors never pair.

    Sizing: the defaults (16 planes / 4 bands = 4-bit chunks, 16 buckets
    per band) are gate-scale; at n ≥ ~2k random collisions flood the band
    join (~n²/16 pairs per band). Grow chunk width with n — 32 planes /
    4 bands (8-bit chunks) measured 2.5× faster end-to-end at 2k+ rows
    (BASELINE.md), and at larger n keep ~n per band bucket ≪ collision
    budget by raising n_planes. Oracle-pinned queries pass these
    explicitly, so the defaults stay stable.
    """
    dim = _resolve_dim(df, vec_col, dim)
    planes = portable_planes(dim, n_planes, seed)
    # cache the tiny banded frame (ids × bands): the self-join otherwise
    # evaluates the whole signature pass once PER SIDE — the broadcast
    # build job materializes the cache, the probe side reuses it (r18;
    # same discipline as minhash_near_duplicates' banded cache)
    banded = _portable_bands(df, planes, bands, id_col, vec_col).cache()
    a, b_ = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b_,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.chunk") == F.col("b.chunk"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine_similarity("_va", "_vb"), round_to).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def assign_nearest_centroid(df: DataFrame, centroids, vec_col: str) -> DataFrame:
    """Map-only nearest-centroid (Euclidean) assignment against a FROZEN
    centroid matrix — one Arrow-batched argmin per partition, no re-fit,
    no shuffle. Shared by ``IvfIndex.assign`` and ``IvfSq8Index``: the
    coarse quantizer is immutable between rebuilds, so ingesting new
    vectors is a pure map."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    cent = np.asarray(centroids, dtype=np.float64)  # (C, dim)
    cent_sq = (cent * cent).sum(axis=1)  # |c|^2, reused per batch
    # NB: StructType.add mutates in place — never call it on df.schema
    out_schema = StructType(
        list(df.schema.fields) + [StructField("centroid", IntegerType(), False)]
    )

    def nearest(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            # argmin ||v-c||^2 = argmin (|c|^2 - 2 v.c); |v|^2 constant per row
            d = cent_sq[None, :] - 2.0 * (v @ cent.T)
            out = pdf.copy()
            out["centroid"] = d.argmin(axis=1).astype("int32")
            yield out

    return df.mapInPandas(nearest, schema=out_schema)


def _cell_stats(assigned: DataFrame, n_cells: int) -> dict:
    """Layout-balance fingerprint of a frame's ``centroid`` column:
    {n_cells, nonempty, total, max_share, top5_shares} over its per-cell
    counts — one groupBy-count, k rows to the driver."""
    counts = sorted(
        (
            r["c"]
            for r in assigned.groupBy("centroid")
            .agg(F.count("*").alias("c"))
            .collect()
        ),
        reverse=True,
    )
    total = sum(counts)
    return {
        "n_cells": n_cells,
        "nonempty": len(counts),
        "total": total,
        "max_share": round(counts[0] / total, 4) if total else 0.0,
        "top5_shares": [round(c / total, 4) for c in counts[:5]],
    }


class IvfIndex:
    """Inverted-file index: coarse k-means quantizer + centroid-partitioned
    vectors. Build once, probe per query.

    On a cluster the assigned table would be ``write.partitionBy("centroid")``
    parquet so probing prunes file partitions; in-memory here, the same
    pruning happens via the partition filter.
    """

    def __init__(self, assigned: DataFrame, centroids: np.ndarray, id_col: str, vec_col: str):
        self.assigned = assigned
        self.centroids = centroids
        self.id_col = id_col
        self.vec_col = vec_col

    def cell_stats(self) -> dict:
        """Layout-balance fingerprint: {n_cells, nonempty, total, max_share,
        top5_shares}. One groupBy-count (k rows to the driver).

        Why it exists (round 11): MLlib KMeans at 1M×1536 isotropic noise
        CONVERGES to one ~100%-occupancy mega-cell (its k-means|| seeds
        collapse toward the data mean in high dimension) — every probe of
        such a layout silently degrades to a full scan, which *looks* like
        recall 1.0 at any nprobe while pruning nothing. The deterministic
        Lloyd builder (``build_portable``) yields ~1/k shares on the same
        data. Check ``max_share`` after building: a value near 1.0 means
        the index is a scan in disguise — rebuild with ``build_portable``
        or raise the sample/iteration budget."""
        return _cell_stats(self.assigned, int(self.centroids.shape[0]))

    @classmethod
    def build(
        cls,
        df: DataFrame,
        n_centroids: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 42,
        max_iter: int = 10,
    ) -> "IvfIndex":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector, vector_to_array

        feat = df.withColumn("_features", array_to_vector(F.col(vec_col).cast("array<double>")))
        km = KMeans(k=n_centroids, seed=seed, maxIter=max_iter, featuresCol="_features")
        model = km.fit(feat)
        centroids = np.array([np.asarray(c) for c in model.clusterCenters()])
        assigned = (
            model.transform(feat)
            .withColumnRenamed(model.getPredictionCol(), "centroid")
            .drop("_features")
        )
        return cls(assigned, centroids, id_col, vec_col)

    @classmethod
    def build_balanced(
        cls,
        df: DataFrame,
        n_centroids: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 42,
        max_iter: int = 10,
        iters: int = 5,
        max_share: float = 0.5,
    ) -> "IvfIndex":
        """MLlib build with a degenerate-layout tripwire: if the fitted
        quantizer puts more than ``max_share`` of the vectors in one cell
        (the 1M×1536 mega-cell failure — BASELINE.md round 11: MLlib's
        k-means|| collapses on high-dim isotropic data, turning every
        probe into a hidden full scan), rebuild with the deterministic
        Lloyd quantizer (``build_portable``), which produced ~1/k shares
        on the same data. Costs one extra groupBy-count over the
        assignment; use where the data's clusterability is unknown."""
        idx = cls.build(
            df, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col,
            seed=seed, max_iter=max_iter,
        )
        if idx.cell_stats()["max_share"] > max_share:
            idx = cls.build_portable(
                df, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col,
                iters=iters,
            )
        return idx

    @classmethod
    def build_portable(
        cls,
        df: DataFrame,
        n_centroids: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        iters: int = 5,
        scale: int = 1_000_000,
    ) -> "IvfIndex":
        """Engine-portable build: the coarse quantizer is ``kmeans_lloyd``
        (integer-exact quantized Lloyd — seeds are the ``n_centroids``
        smallest ids, updates are ``floor(qsum/n + 0.5)`` half-toward-+inf
        integer math), so the ENTIRE build is replayable bit-for-bit by a
        SQL oracle with no persisted state (harness
        ``ann_ivf_portable_build_probe``). The update runs in the
        map-side mode (bit-equal to the portable formula the oracle
        unrolls; the portable N·d join is oracle plumbing only). MLlib's
        ``build`` stays the default for speed/quality at high k; this is
        the verifiable twin. Assignment comes back from the same loop —
        one extra map pass joins the vectors for the cell layout."""
        cents, assigned, _ = kmeans_lloyd(
            df, k=n_centroids, iters=iters, id_col=id_col, vec_col=vec_col, scale=scale
        )
        # kmeans_lloyd labels cells by SEED id (the k smallest vector ids);
        # IvfIndex addresses centroids positionally — remap via a literal map
        centroids = np.array([[c / scale for c in qc] for _, qc in cents], dtype=np.float64)
        pos_of = {cid: i for i, (cid, _) in enumerate(cents)}
        mapping = F.create_map(
            *[F.lit(x) for cid, i in pos_of.items() for x in (cid, i)]
        )
        remapped = assigned.select(
            id_col, mapping[F.col("centroid")].cast("int").alias("centroid")
        )
        with_vecs = df.join(remapped, id_col)
        return cls(with_vecs, centroids, id_col, vec_col)

    def save(self, path: str) -> "IvfIndex":
        """Persist the inverted file: vectors written ``partitionBy(centroid)``
        (one directory per coarse cell) + the centroid matrix. A probe
        against the saved index prunes to ``nprobe`` directories at the file
        level — the parquet-native form of an IVF index."""
        import json
        import os

        _cluster_for_write(self.assigned).write.partitionBy("centroid").mode(
            "overwrite"
        ).parquet(os.path.join(path, "cells"))
        with open(os.path.join(path, "centroids.json"), "w") as f:
            json.dump(
                {
                    "centroids": self.centroids.tolist(),
                    "id_col": self.id_col,
                    "vec_col": self.vec_col,
                },
                f,
            )
        return self

    @classmethod
    def load(cls, spark, path: str) -> "IvfIndex":
        import json
        import os

        with open(os.path.join(path, "centroids.json")) as f:
            meta = json.load(f)
        assigned = spark.read.parquet(os.path.join(path, "cells"))
        return cls(
            assigned, np.asarray(meta["centroids"]), meta["id_col"], meta["vec_col"]
        )

    def assign(self, df: DataFrame) -> DataFrame:
        """Map-only nearest-centroid (Euclidean, matching the k-means
        objective) assignment of NEW vectors against the FROZEN centroid
        matrix — one Arrow-batched argmin per partition, no re-fit, no
        shuffle. This is how an IVF index ingests a stream of additions at
        scale: the coarse quantizer is immutable between rebuilds."""
        return assign_nearest_centroid(df, self.centroids, self.vec_col)

    def add_batch(self, batch: DataFrame, path: str | None = None) -> "IvfIndex":
        """Incremental maintenance: assign a batch to the existing cells
        and append it (to the in-memory table, and — when ``path`` is given
        — to the saved index's ``cells`` directory, where dynamic append
        touches only the assigned centroids' partitions). Centroids do NOT
        move; monitor ``drift()`` and rebuild when it degrades."""
        import os

        assigned = self.assign(batch)
        if path is not None:
            _cluster_for_write(assigned).write.partitionBy("centroid").mode(
                "append"
            ).parquet(os.path.join(path, "cells"))
        self.assigned = self.assigned.unionByName(assigned, allowMissingColumns=True)
        return self

    def drift(self) -> float:
        """Fraction of stored vectors whose nearest centroid disagrees with
        their stored cell — 0 right after a build, grows as incremental
        adds shift the data distribution. One map + one aggregate over the
        index (a maintenance-time scan, not a query-path cost); rebuild
        when it crosses the pipeline's tolerance (a few percent)."""
        stored = self.assigned.select(
            F.col("centroid").alias("_stored"), F.col(self.vec_col)
        )
        re_assigned = self.assign(stored)
        row = re_assigned.agg(
            F.avg((F.col("centroid") != F.col("_stored")).cast("double")).alias("d")
        ).head()
        return float(row["d"] or 0.0)

    def probe_centroid_ids(self, query_vec, nprobe: int = 3) -> list[int]:
        """The ``nprobe`` centroid ids nearest the query by EUCLIDEAN
        distance — the same metric the k-means build/assign uses, so the
        probed cells are exactly those that would own the query. (Ranking
        centroids by cosine while cells were cut by Euclidean k-means
        silently probes the wrong cells on unnormalized data; the
        normalized-layout variant is ``IvfPqResidualIndex``.) Driver-side:
        the centroid matrix is tiny."""
        q = np.asarray(query_vec, dtype=np.float64)
        d = ((self.centroids - q[None, :]) ** 2).sum(axis=1)
        return [int(i) for i in np.argsort(d)[:nprobe]]

    def probe(
        self,
        query_vec,
        k: int = 10,
        nprobe: int = 3,
        round_to: int | None = None,
        impl: str = "expr",
    ) -> DataFrame:
        """Top-k among vectors in the ``nprobe`` centroids nearest (by
        cosine) to the query — a partition-pruned exact search.
        ``impl="numpy"`` scores the pruned cells with the Arrow/matmul
        kernel (the at-scale path for high dims — see ``topk``); the
        default stays expr for SQL-oracle bit-parity."""
        probe_ids = self.probe_centroid_ids(query_vec, nprobe)
        subset = self.assigned.where(F.col("centroid").isin(probe_ids))
        return topk(
            subset,
            query_vec,
            k=k,
            id_col=self.id_col,
            vec_col=self.vec_col,
            round_to=round_to,
            impl=impl,
        )

    def probe_batched(
        self,
        queries: list,
        k: int = 10,
        nprobe: int = 3,
        round_to: int | None = None,
    ) -> DataFrame:
        """Batched probe: top-k for MANY queries in ONE pass over the
        union of their probed cells. ``queries`` is a list of
        ``(query_id, vector)``. The (query, centroid) probe map is tiny
        (|Q|·nprobe rows, computed driver-side against the in-memory
        centroid matrix) and broadcasts; the index is scanned once,
        pruned to the union of probed cells, and each vector scores only
        against the queries that probed ITS cell — |Q| separate probes
        would rescan shared cells |Q| times. Ranking is one shuffle
        keyed by query_id (bounded per query by its probed-cell rows).
        """
        from whatsapp_vectordb_spark.functions.vector import cosine_similarity

        from pyspark.sql import Window

        spark = self.assigned.sparkSession
        probe_rows = [
            (int(qid), int(c))
            for qid, vec in queries
            for c in self.probe_centroid_ids(vec, nprobe)
        ]
        qdf = local_df(spark, 
            [(int(qid), [float(x) for x in vec]) for qid, vec in queries],
            "query_id long, _qv array<double>",
        )
        probes = local_df(spark, 
            probe_rows, "query_id long, _pcell bigint"
        ).join(F.broadcast(qdf), "query_id")
        cells = sorted({c for _, c in probe_rows})
        subset = self.assigned.where(F.col("centroid").isin(cells))
        score = cosine_similarity(F.col(self.vec_col), F.col("_qv"))
        if round_to is not None:
            score = F.round(score, round_to)
        scored = (
            subset.join(F.broadcast(probes), F.col("centroid") == F.col("_pcell"))
            .select("query_id", F.col(self.id_col), score.alias("score"))
            .where(F.col("score").isNotNull())
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col(self.id_col).asc()
        )
        return (
            scored.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k)
            .drop("_rk")
        )


def _train_sample(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    sample_rows: int,
    oversample: int = 8,
    n: int | None = None,
) -> np.ndarray:
    """Deterministic, UNBIASED bounded sample for codebook training.

    ``orderBy(id).limit(n)`` trains on the lowest-id rows — on real corpora
    id correlates with ingest time, so codebooks would train on the oldest
    data and drift immediately. Ranking on ``xxhash64(id)`` instead is a
    uniform pseudo-random draw over the whole corpus, still fully
    deterministic and reproducible (id tiebreak makes the order total).

    Scale shape: when the corpus is much larger than the sample, a
    hash-bucket pre-filter (``xxhash64(id) % denom = 0``) prunes the
    TakeOrderedAndProject input to ~``oversample × sample_rows`` expected
    rows, so the heap never ranks the full index — at 100 TB the scan is
    still one pass over ids+vectors, but the sort side is tiny. (The
    ``count()`` sizing pass is column-pruned and runs once per build; a
    caller that already knows ``df``'s row count passes it as ``n`` and
    skips that job.)
    """
    h = F.xxhash64(F.col(id_col).cast("string"))
    if n is None:
        n = df.count()
    cand = df
    denom = int(n // (sample_rows * oversample))
    if denom > 1:
        cand = df.where(F.pmod(h, F.lit(denom)) == 0)
    rows = (
        cand.select(F.col(vec_col).alias("_v"), h.alias("_h"), F.col(id_col).alias("_id"))
        .orderBy(F.col("_h").asc(), F.col("_id").asc())
        .limit(sample_rows)
        .collect()
    )
    return np.asarray([r["_v"] for r in rows], dtype=np.float64)


def _argmin_sq(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Row-wise ``argmin_c ||x - c||²`` via the matmul identity
    ``argmin_c (||c||² - 2 x·c)`` — O(n·C) memory instead of the
    O(n·C·dim) broadcast-difference tensor (which at n=10⁴, C=64,
    dim=1536 is 7.9 GB float64 per worker and OOM-killed the 1M stress).
    Caveat: catastrophic cancellation in ``||c||² - 2x·c`` can flip the
    argmin on NEAR-ties (distances equal within a few ulps), not just
    exact ties — do not assume bit-stable assignments from this path;
    the property test accordingly asserts chosen-DISTANCE equality, not
    index equality."""
    return ((cents * cents).sum(axis=1)[None, :] - 2.0 * (x @ cents.T)).argmin(axis=1)


def _kmeanspp_lloyd(
    x: np.ndarray, k: int, seed: int, iters: int
) -> tuple[np.ndarray, np.ndarray]:
    """Driver-side coarse quantizer fit on a sample ``x``: seeded
    k-means++ seeding (Arthur & Vassilvitskii, SODA 2007), then
    ``iters`` Lloyd iterations; returns ``(centroids, labels)``, the
    labels being each sample row's nearest final centroid. Seeding
    draws each next centre with probability proportional to its squared
    distance to the chosen ones, so a clustered corpus gets one seed per
    cluster where uniform random seeds would double some up. When
    ``x`` holds fewer than ``k`` distinct rows every remaining distance
    is 0 and seeding stops early: fewer centroids, as MLlib's KMeans
    returns. A cell that empties keeps its centre. O(n·k·dim), about
    one Lloyd iteration; deterministic for a fixed sample and seed."""
    rng = np.random.default_rng(seed)
    first = x[rng.integers(len(x))]
    cents = [first]
    d2 = ((x - first) ** 2).sum(axis=1)
    while len(cents) < k:
        total = d2.sum()
        if not total > 0:
            break
        nxt = x[rng.choice(len(x), p=d2 / total)]
        cents.append(nxt)
        d2 = np.minimum(d2, ((x - nxt) ** 2).sum(axis=1))
    cent = np.array(cents)
    for _ in range(iters):
        labels = _argmin_sq(x, cent)
        sums = np.zeros_like(cent)
        np.add.at(sums, labels, x)
        cnt = np.bincount(labels, minlength=len(cent))
        live = cnt > 0
        cent[live] = sums[live] / cnt[live, None]
    return cent, _argmin_sq(x, cent)


def _lloyd_codebooks(
    x: np.ndarray, m: int, ksub: int, seed: int, iters: int
) -> np.ndarray:
    """Per-subspace Lloyd k-means on a driver-side sample → (m, ksub,
    dim/m) codebooks. Deterministic under a fixed seed and sample."""
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        cent = sub[rng.choice(len(sub), size=ksub, replace=False)].copy()
        for _ in range(iters):  # Lloyd: assign to nearest, move to mean
            a = _argmin_sq(sub, cent)
            for c in range(ksub):
                pts = sub[a == c]
                if len(pts):
                    cent[c] = pts.mean(axis=0)
        books[j] = cent
    return books


class PqIndex:
    """Product quantization — the compressed-storage ANN tier.

    The vector space is split into ``m`` subspaces of ``dim/m`` components;
    each subspace gets its own ``ksub``-centroid codebook (Lloyd k-means on
    a bounded driver-side sample — codebooks train on samples by design);
    a vector encodes as ``m`` small integer codes: 64-dim float32 (256 B)
    → 8 bytes at m=8, a 32× storage cut (Jégou et al., TPAMI'11).

    Query scoring is asymmetric (ADC): the query stays full-precision; a
    per-subspace lookup table ``lut[j][c] = <q_j, codebook_j[c]>`` turns
    each stored vector's score into ``Σ_j lut[j][code_j]`` — m table reads
    per row, no float vector ever touched at scan time. The LUT here is
    **integer-quantized** (round(dot·10⁶)), so scores are exact integer
    sums — order-independent and bit-reproducible in a SQL oracle over the
    persisted codes, exactly like the portable LSH.

    Inputs are L2-normalized at build/encode/query time, so the ADC dot
    approximates cosine. Scale shape: encode is a map-only Arrow batch;
    the scan shuffles nothing (TakeOrderedAndProject over an integer sum).
    """

    LUT_QUANT = 1_000_000

    def __init__(self, codebooks: np.ndarray, id_col: str, vec_col: str):
        self.codebooks = codebooks  # (m, ksub, dsub)
        self.id_col = id_col
        self.vec_col = vec_col

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def dsub(self) -> int:
        return self.codebooks.shape[2]

    @staticmethod
    def _normalize(x: np.ndarray) -> np.ndarray:
        n = np.linalg.norm(x, axis=-1, keepdims=True)
        return x / np.where(n == 0, 1.0, n)

    @classmethod
    def build(
        cls,
        df: DataFrame,
        m: int = 8,
        ksub: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        sample_rows: int = 2048,
        seed: int = 0,
        iters: int = 10,
    ) -> "PqIndex":
        x = cls._normalize(_train_sample(df, id_col, vec_col, sample_rows))
        books = _lloyd_codebooks(x, m, ksub, seed, iters)
        return cls(books, id_col, vec_col)

    def encode(self, df: DataFrame) -> DataFrame:
        """``(id, codes ARRAY<INT>)`` — per-subspace nearest-centroid codes,
        one Arrow-batched argmin per partition."""
        import pandas as pd
        from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

        books = self.codebooks
        m, dsub = self.m, self.dsub
        id_col, vec_col = self.id_col, self.vec_col
        out_schema = StructType(
            [df.schema[id_col], StructField("codes", ArrayType(IntegerType()), False)]
        )

        def enc(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                v = PqIndex._normalize(np.asarray(pdf[vec_col].tolist(), dtype=np.float64))
                codes = np.empty((len(v), m), dtype=np.int32)
                for j in range(m):
                    sub = v[:, j * dsub : (j + 1) * dsub]
                    # argmin ||x-c||² = argmin ||c||² - 2x·c — one (n,dsub)
                    # @ (dsub,ksub) matmul instead of an (n,ksub,dsub)
                    # broadcast temporary (~16× the flops' memory at
                    # dim=1536); identical argmin up to FP rounding of
                    # mathematically-equal distances
                    d = (books[j] ** 2).sum(axis=1)[None, :] - 2.0 * (sub @ books[j].T)
                    codes[:, j] = d.argmin(axis=1)
                yield pd.DataFrame({id_col: pdf[id_col], "codes": list(codes)})

        return df.select(id_col, vec_col).mapInPandas(enc, schema=out_schema)

    def quantization_mse(self, df: DataFrame, sample_rows: int = 2048) -> float:
        """Mean squared reconstruction error on a bounded sample (the
        OPQ-vs-PQ comparison metric; lower is better)."""
        x = self._normalize(_train_sample(df, self.id_col, self.vec_col, sample_rows))
        recon = OpqIndex._reconstruct(x, self.codebooks)
        return float(((x - recon) ** 2).sum(axis=1).mean())

    def lut_int(self, query_vec) -> np.ndarray:
        """Integer-quantized ADC lookup table: ``(m, ksub)`` int64 of
        round(<q_j, codebook_j[c]> · 10⁶)."""
        q = self._normalize(np.asarray(query_vec, dtype=np.float64))
        luts = np.empty((self.m, self.codebooks.shape[1]))
        for j in range(self.m):
            luts[j] = self.codebooks[j] @ q[j * self.dsub : (j + 1) * self.dsub]
        return np.round(luts * self.LUT_QUANT).astype(np.int64)

    def adc_topk(self, encoded: DataFrame, query_vec, k: int = 10) -> DataFrame:
        """Top-k over the codes table by exact-integer ADC score
        ``Σ_j lut[j][code_j]`` — returns ``(id, score)`` with score the
        int64 quantized dot. The scan never touches a float vector; the
        top-k is TakeOrderedAndProject (no shuffle of the table)."""
        import pandas as pd
        from pyspark.sql.types import LongType, StructField, StructType

        lut = self.lut_int(query_vec)
        id_col = self.id_col
        out_schema = StructType(
            [encoded.schema[id_col], StructField("score", LongType(), False)]
        )
        j_idx = np.arange(self.m)

        def score(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                codes = np.asarray(pdf["codes"].tolist(), dtype=np.int64)  # (n, m)
                s = lut[j_idx[None, :], codes].sum(axis=1)
                yield pd.DataFrame({id_col: pdf[id_col], "score": s})

        scored = encoded.mapInPandas(score, schema=out_schema)
        return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)

    def save(self, path: str, encoded: DataFrame) -> "PqIndex":
        """Persist codes (parquet) + codebooks (json) — the disk form a
        100 TB deployment scans: 8 bytes/vector instead of 256."""
        import json
        import os

        encoded.write.mode("overwrite").parquet(os.path.join(path, "codes"))
        with open(os.path.join(path, "codebooks.json"), "w") as f:
            json.dump(
                {
                    "codebooks": self.codebooks.tolist(),
                    "id_col": self.id_col,
                    "vec_col": self.vec_col,
                },
                f,
            )
        return self

    @classmethod
    def load(cls, spark, path: str) -> tuple["PqIndex", DataFrame]:
        import json
        import os

        with open(os.path.join(path, "codebooks.json")) as f:
            meta = json.load(f)
        idx = cls(np.asarray(meta["codebooks"]), meta["id_col"], meta["vec_col"])
        return idx, spark.read.parquet(os.path.join(path, "codes"))


class OpqIndex(PqIndex):
    """Optimized Product Quantization (Ge et al., CVPR 2013; public): PQ
    applied after a learned orthogonal rotation ``R`` that decorrelates
    the subspaces, so the same ``m`` bytes of codes capture more variance
    — higher recall at identical storage/scan cost.

    Training alternates on a bounded driver sample: (a) Lloyd codebooks on
    the rotated sample, (b) the orthogonal-Procrustes update
    ``R = U·Vᵀ`` from ``SVD(Xᵀ·X̂)`` where ``X̂`` is the codebook
    reconstruction — monotonically non-increasing quantization error,
    deterministic under a fixed seed/sample. The QUERY path is byte-for-
    byte PqIndex's (rotate the query driver-side, integer LUT, ADC over
    persisted codes), so the identical SQL oracle shape hash-checks it.
    """

    def __init__(self, codebooks: np.ndarray, rotation: np.ndarray, id_col: str, vec_col: str):
        super().__init__(codebooks, id_col, vec_col)
        self.rotation = rotation  # (dim, dim), orthogonal

    @staticmethod
    def _reconstruct(xr: np.ndarray, books: np.ndarray) -> np.ndarray:
        m, _, dsub = books.shape
        out = np.empty_like(xr)
        for j in range(m):
            sub = xr[:, j * dsub : (j + 1) * dsub]
            out[:, j * dsub : (j + 1) * dsub] = books[j][_argmin_sq(sub, books[j])]
        return out

    @classmethod
    def build(
        cls,
        df: DataFrame,
        m: int = 8,
        ksub: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        sample_rows: int = 2048,
        seed: int = 0,
        iters: int = 10,
        opq_iters: int = 8,
    ) -> "OpqIndex":
        x = cls._normalize(_train_sample(df, id_col, vec_col, sample_rows))
        dim = x.shape[1]
        r = np.eye(dim)
        for _ in range(opq_iters):
            xr = x @ r
            books = _lloyd_codebooks(xr, m, ksub, seed, iters)
            recon = cls._reconstruct(xr, books)
            u, _, vt = np.linalg.svd(x.T @ recon)
            r = u @ vt
        books = _lloyd_codebooks(x @ r, m, ksub, seed, iters)
        return cls(books, r, id_col, vec_col)

    def encode(self, df: DataFrame) -> DataFrame:
        """``(id, codes)`` over ROTATED vectors — one extra (dim × dim)
        matmul inside the same Arrow batch, nothing else changes."""
        import pandas as pd
        from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

        books = self.codebooks
        rot = self.rotation
        m, dsub = self.m, self.dsub
        id_col, vec_col = self.id_col, self.vec_col
        out_schema = StructType(
            [df.schema[id_col], StructField("codes", ArrayType(IntegerType()), False)]
        )

        def enc(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                v = PqIndex._normalize(np.asarray(pdf[vec_col].tolist(), dtype=np.float64))
                v = v @ rot
                codes = np.empty((len(v), m), dtype=np.int32)
                for j in range(m):
                    sub = v[:, j * dsub : (j + 1) * dsub]
                    codes[:, j] = _argmin_sq(sub, books[j])
                yield pd.DataFrame({id_col: pdf[id_col], "codes": list(codes)})

        return df.select(id_col, vec_col).mapInPandas(enc, schema=out_schema)

    def lut_int(self, query_vec) -> np.ndarray:
        q = self._normalize(np.asarray(query_vec, dtype=np.float64)) @ self.rotation
        luts = np.empty((self.m, self.codebooks.shape[1]))
        for j in range(self.m):
            luts[j] = self.codebooks[j] @ q[j * self.dsub : (j + 1) * self.dsub]
        return np.round(luts * self.LUT_QUANT).astype(np.int64)

    def save(self, path: str, encoded: DataFrame) -> "OpqIndex":
        import json
        import os

        encoded.write.mode("overwrite").parquet(os.path.join(path, "codes"))
        with open(os.path.join(path, "codebooks.json"), "w") as f:
            json.dump(
                {
                    "codebooks": self.codebooks.tolist(),
                    "rotation": self.rotation.tolist(),
                    "id_col": self.id_col,
                    "vec_col": self.vec_col,
                },
                f,
            )
        return self

    @classmethod
    def load(cls, spark, path: str) -> tuple["OpqIndex", DataFrame]:
        import json
        import os

        with open(os.path.join(path, "codebooks.json")) as f:
            meta = json.load(f)
        idx = cls(
            np.asarray(meta["codebooks"]),
            np.asarray(meta["rotation"]),
            meta["id_col"],
            meta["vec_col"],
        )
        return idx, spark.read.parquet(os.path.join(path, "codes"))

    def quantization_mse(self, df: DataFrame, sample_rows: int = 2048) -> float:
        """Mean squared reconstruction error on a bounded sample — the
        quantity OPQ training minimizes; compare against PqIndex to verify
        the rotation helps (tests/test_ann.py)."""
        x = self._normalize(_train_sample(df, self.id_col, self.vec_col, sample_rows))
        xr = x @ self.rotation
        return float(((xr - self._reconstruct(xr, self.codebooks)) ** 2).sum(axis=1).mean())


def pq_topk_rerank(
    pq: "PqIndex",
    encoded: DataFrame,
    index_df: DataFrame,
    query_vec,
    k: int = 10,
    shortlist: int = 100,
) -> DataFrame:
    """The standard PQ deployment shape: the 8-byte-code ADC scan produces
    a ``shortlist`` of candidates (coarse scores tie aggressively — PQ is
    a *filter*, not a final ranking), then ONLY those rows' full vectors
    are fetched and exactly re-ranked. At 100 TB the float vectors are
    read for ``shortlist`` rows instead of N — the scan stays on codes."""
    cand = pq.adc_topk(encoded, query_vec, k=shortlist).select(pq.id_col)
    sub = index_df.join(cand, pq.id_col).select(pq.id_col, pq.vec_col)
    return topk(
        sub, query_vec, k=k, id_col=pq.id_col, vec_col=pq.vec_col, round_to=6
    )


def ivfpq_topk(
    ivf: IvfIndex,
    pq: PqIndex,
    codes_assigned: DataFrame,
    query_vec,
    k: int = 10,
    nprobe: int = 3,
    index_df: DataFrame | None = None,
    shortlist: int | None = None,
) -> DataFrame:
    """IVF-PQ — the canonical big-index ANN layout: the IVF coarse
    quantizer prunes the scan to ``nprobe`` cells (on a saved index,
    file-level partition pruning), and the survivors are scored from their
    8-byte PQ codes with the integer-exact ADC table — the query never
    touches a float vector column at scan time. ``codes_assigned`` is the
    encoded table carrying a ``centroid`` column (encode ⋈ assign).

    When ``index_df`` (the full-vector table) is given — the DEFAULT
    deployment shape — the ADC scan only produces a ``shortlist``
    (``max(10·k, 100)`` unless set) of candidates whose float vectors are
    then fetched and exactly re-ranked: ADC over 8-byte codes ties
    aggressively (measured recall@10 as low as 0.1 raw vs 0.7-1.0
    reranked — BASELINE.md stress table), so raw ADC order is a filter,
    not an answer. Pass ``index_df=None`` explicitly to get the raw ADC
    ranking (ties broken by id) for oracle/debug use.

    At 100 TB this is the compound win: I/O ∝ nprobe/n_centroids of the
    (already 32×-compressed) index, compute is m int64 table reads per
    candidate, and the float vectors are read for ``shortlist`` rows, not
    N. The result is still a TakeOrderedAndProject."""
    probe_ids = ivf.probe_centroid_ids(query_vec, nprobe)
    subset = codes_assigned.where(F.col("centroid").isin(probe_ids))
    if index_df is None:
        return pq.adc_topk(subset, query_vec, k=k)
    if shortlist is None:
        shortlist = max(10 * k, 100)
    cand = pq.adc_topk(subset, query_vec, k=shortlist).select(pq.id_col)
    sub = index_df.join(cand, pq.id_col).select(pq.id_col, pq.vec_col)
    return topk(sub, query_vec, k=k, id_col=pq.id_col, vec_col=pq.vec_col, round_to=6)


def ivfpq_batched_topk(
    pq: "PqIndex",
    codes_assigned: DataFrame,
    queries: list,
    probe_map: dict,
    k: int = 10,
    centroid_col: str = "centroid",
    impl: str = "expr",
) -> DataFrame:
    """Batched IVF-PQ probe: raw-ADC top-k for MANY queries in ONE scan
    over the union of their probed cells — the PQ twin of
    ``ivf_sq8_batched_topk`` (and of ``IvfIndex.probe_batched``).
    ``queries`` is ``[(query_id, vector)]``; ``probe_map`` maps each
    query_id to its probed cell ids (computed driver-side against the
    in-memory coarse centroids, as the single-query ``ivfpq_topk`` does).

    Each query's integer ADC LUT (``PqIndex.lut_int``: round(<q_j,
    codebook_j[c]>·10⁶), m·ksub int64s) broadcasts with the (query, cell)
    probe map; a code row is scored only against the queries that probed
    ITS cell as the exact int64 sum ``Σ_j lut[j][code_j]`` — so per-query
    results equal |Q| separate raw-ADC ``ivfpq_topk`` calls bit-for-bit
    (pinned by test). The codes table (8 bytes/vector at m=8 — 32×
    compressed) is scanned ONCE with file-level partition pruning on a
    ``partitionBy(centroid)`` layout; float vectors never load. Ranking
    is one shuffle keyed by query_id, bounded per query by its probed
    cells' rows.

    ``impl``: ``"expr"`` (default, SQL-oracle-parity form) scores every
    (row, probing query) pair with a zip_with fold over a flattened
    ``m·ksub`` LUT array; ``"numpy"`` groups each Arrow batch by cell and
    scores all of that cell's probing queries with per-query LUT gathers
    and a per-(partition, query) k-heap emitting ≤ k rows each — the
    at-scale path (the HOF re-parses the LUT array per pair; the gather
    amortizes the batch). Bit-identical scores (exact int64 both ways).
    """
    from pyspark.sql import Window

    # dedup per-query cells (ADVICE r13) — same duplicate-slot hazard as
    # ``ivf_sq8_batched_topk``: a repeated cell id would double-score its
    # rows for that query in both the expr join and the numpy grouping
    probe_rows = [
        (int(qid), c)
        for qid, cells in probe_map.items()
        for c in sorted({int(c) for c in cells})
    ]
    if not probe_rows:
        raise ValueError("ivfpq_batched_topk needs at least one probe cell")
    spark = codes_assigned.sparkSession
    id_col = pq.id_col
    m, ksub = pq.m, pq.codebooks.shape[1]
    luts = {int(qid): pq.lut_int(vec) for qid, vec in queries}  # (m, ksub) int64
    cells = sorted({c for _, c in probe_rows})
    subset = codes_assigned.where(F.col(centroid_col).isin(cells))
    if impl == "numpy":
        cell_qids: dict[int, list[int]] = {}
        for qid, c in probe_rows:  # deduped above — one qid per (cell, query)
            cell_qids.setdefault(c, []).append(qid)
        j_idx = np.arange(m)
        kk = k

        def part_topk(batches):
            import pandas as pd

            best: dict[int, pd.DataFrame] = {}
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                for cell, grp in pdf.groupby(centroid_col):
                    qids = cell_qids.get(int(cell))
                    if not qids:
                        continue
                    codes = np.asarray(grp["codes"].tolist(), dtype=np.int64)
                    ids = grp[id_col].to_numpy()
                    for qid in qids:
                        s = luts[qid][j_idx[None, :], codes].sum(axis=1)
                        cur = pd.DataFrame({id_col: ids, "score_int": s})
                        prev = best.get(qid)
                        cur = cur if prev is None else pd.concat((prev, cur))
                        best[qid] = cur.sort_values(
                            ["score_int", id_col], ascending=[False, True]
                        ).head(kk)
            for qid, b in best.items():
                b = b.copy()
                b.insert(0, "query_id", np.int64(qid))
                yield b

        partial = subset.select(id_col, "codes", centroid_col).mapInPandas(
            part_topk, schema=f"query_id long, {id_col} long, score_int long"
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score_int").desc(), F.col(id_col).asc()
        )
        return (
            partial.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k)
            .drop("_rk")
        )
    wdf = local_df(spark, 
        [(qid, [int(x) for x in lut.ravel()]) for qid, lut in luts.items()],
        "query_id long, _lut array<bigint>",
    )
    probes = local_df(spark, 
        probe_rows, "query_id long, _pcell bigint"
    ).join(F.broadcast(wdf), "query_id")
    # Σ_j lut[j·ksub + code_j] over the flattened per-query LUT (F.get is
    # 0-based), the same exact int64 sum as PqIndex.adc_topk.
    score = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, j: F.get(F.col("_lut"), j * ksub + c),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = subset.join(
        F.broadcast(probes), F.col(centroid_col) == F.col("_pcell")
    ).select("query_id", F.col(id_col), score.alias("score_int"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_int").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


class IvfPqResidualIndex:
    """Residual IVF-PQ — the layout production vector stores (FAISS
    ``IVFxx,PQyy``) actually deploy: vectors are L2-normalized, assigned
    to a coarse centroid, and PQ encodes the RESIDUAL ``v − c`` instead of
    the vector — residuals are small and centered, so the same byte
    budget quantizes much finer than whole-vector PQ (Jégou et al.
    TPAMI'11 §IV).

    Query scoring is per-cell asymmetric L2: for each probed centroid c,
    ``lut_c[j][k] = ||(q−c)_j − codebook_j[k]||²`` and a row's distance is
    ``Σ_j lut_c[j][code_j]`` — on unit vectors the L2 ranking equals the
    cosine ranking. LUTs are integer-quantized (round(d·10⁶)), so scores
    are exact int64 sums, reproducible in a SQL oracle over persisted
    codes + LUTs, exactly like the flat-PQ probe.
    """

    LUT_QUANT = 1_000_000

    def __init__(
        self,
        centroids: np.ndarray,
        codebooks: np.ndarray,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.centroids = centroids  # (C, dim) — unit-normalized space
        self.codebooks = codebooks  # (m, ksub, dim/m) — residual space
        self.id_col = id_col
        self.vec_col = vec_col

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def dsub(self) -> int:
        return self.codebooks.shape[2]

    @classmethod
    def build(
        cls,
        df: DataFrame,
        n_centroids: int = 8,
        m: int = 8,
        ksub: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        sample_rows: int = 2048,
        seed: int = 0,
        iters: int = 10,
    ) -> "IvfPqResidualIndex":
        """Coarse centroids (Lloyd on the normalized sample) + residual
        codebooks trained on the SAME sample's residuals — both stages on
        a bounded driver-side sample, as codebook training always is."""
        x = PqIndex._normalize(_train_sample(df, id_col, vec_col, sample_rows))
        # coarse quantizer: one "subspace" spanning the full dim
        cent = _lloyd_codebooks(x, 1, n_centroids, seed, iters)[0]  # (C, dim)
        res = x - cent[_argmin_sq(x, cent)]
        books = _lloyd_codebooks(res, m, ksub, seed + 1, iters)
        return cls(cent, books, id_col, vec_col)

    def encode(self, df: DataFrame) -> DataFrame:
        """``(id, centroid, codes)``: one Arrow batch does normalize →
        coarse assign → residual → per-subspace code — the whole ingest
        map in a single pass, no shuffle."""
        import pandas as pd
        from pyspark.sql.types import (
            ArrayType,
            IntegerType,
            StructField,
            StructType,
        )

        cent, books = self.centroids, self.codebooks
        m, dsub = self.m, self.dsub
        id_col, vec_col = self.id_col, self.vec_col
        out_schema = StructType(
            [
                df.schema[id_col],
                StructField("centroid", IntegerType(), False),
                StructField("codes", ArrayType(IntegerType()), False),
            ]
        )

        # matmul-argmin: argmin_c ||v-c||² = argmin_c (||c||² - 2 v·c) —
        # never materialize the (batch, C, dim) broadcast-difference tensor
        # (at batch=10⁴, C=64, dim=1536 that tensor is 7.9 GB float64 PER
        # WORKER; ×32 workers it OOM-killed the 1M×1536 stress). The
        # (batch, C) matmul form is KBs-to-MBs and mathematically the same
        # argmin up to float rounding of exact ties.
        cent_sq = (cent * cent).sum(axis=1)
        books_t = [b.T.copy() for b in books]
        books_sq = [(b * b).sum(axis=1) for b in books]

        def enc(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                v = PqIndex._normalize(np.asarray(pdf[vec_col].tolist(), dtype=np.float64))
                cell = (cent_sq[None, :] - 2.0 * (v @ cent.T)).argmin(axis=1)
                res = v - cent[cell]
                codes = np.empty((len(v), m), dtype=np.int32)
                for j in range(m):
                    sub = res[:, j * dsub : (j + 1) * dsub]
                    codes[:, j] = (books_sq[j][None, :] - 2.0 * (sub @ books_t[j])).argmin(
                        axis=1
                    )
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "centroid": cell.astype("int32"),
                        "codes": list(codes),
                    }
                )

        return df.select(id_col, vec_col).mapInPandas(enc, schema=out_schema)

    def probe_cells(self, query_vec, nprobe: int) -> list[int]:
        q = PqIndex._normalize(np.asarray(query_vec, dtype=np.float64))
        d = ((self.centroids - q) ** 2).sum(axis=1)
        return [int(i) for i in np.argsort(d)[:nprobe]]

    def luts_int(self, query_vec, cells: list[int]) -> dict[int, np.ndarray]:
        """Per-probed-cell integer LUT: (m, ksub) int64 of
        round(||(q−c)_j − codebook_j[k]||² · 10⁶)."""
        q = PqIndex._normalize(np.asarray(query_vec, dtype=np.float64))
        out = {}
        for c in cells:
            r = q - self.centroids[c]
            lut = np.empty((self.m, self.codebooks.shape[1]))
            for j in range(self.m):
                sub = r[j * self.dsub : (j + 1) * self.dsub]
                lut[j] = ((self.codebooks[j] - sub) ** 2).sum(axis=1)
            out[c] = np.round(lut * self.LUT_QUANT).astype(np.int64)
        return out

    def probe(
        self, encoded: DataFrame, query_vec, k: int = 10, nprobe: int = 2
    ) -> DataFrame:
        """Top-k (ascending integer distance) over the probed cells'
        codes — centroid filter prunes partitions on a saved layout, the
        scan reads codes only, ties break by id."""
        return self._probe_cells_topk(
            encoded, query_vec, self.probe_cells(query_vec, nprobe), k
        )

    def _probe_cells_topk(
        self, encoded: DataFrame, query_vec, cells: list[int], k: int
    ) -> DataFrame:
        """``probe`` over cells the caller already chose."""
        import pandas as pd
        from pyspark.sql.types import LongType, StructField, StructType

        luts = self.luts_int(query_vec, cells)
        id_col = self.id_col
        m = self.m
        out_schema = StructType(
            [encoded.schema[id_col], StructField("score", LongType(), False)]
        )
        j_idx = np.arange(m)

        def score(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                codes = np.asarray(pdf["codes"].tolist(), dtype=np.int64)
                cellv = pdf["centroid"].to_numpy()
                s = np.empty(len(pdf), dtype=np.int64)
                for c in np.unique(cellv):
                    mask = cellv == c
                    s[mask] = luts[int(c)][j_idx[None, :], codes[mask]].sum(axis=1)
                yield pd.DataFrame({id_col: pdf[id_col], "score": s})

        subset = encoded.where(F.col("centroid").isin(cells))
        scored = subset.mapInPandas(score, schema=out_schema)
        return scored.orderBy(F.col("score").asc(), F.col(id_col).asc()).limit(k)


def ivfpq_residual_batched_topk(
    index: "IvfPqResidualIndex",
    codes_assigned: DataFrame,
    queries: list,
    probe_map: dict,
    k: int = 10,
    centroid_col: str = "centroid",
) -> DataFrame:
    """Batched RESIDUAL IVF-PQ probe: quantized top-k for MANY queries in
    ONE scan over the union of their probed cells — the residual twin of
    ``ivfpq_batched_topk``. The flat-PQ batched probe broadcasts one LUT
    per query; here the ADC table depends on the probed CELL too (the
    LUT is built on the residual ``q − c``, Jégou et al. TPAMI'11 §IV),
    so the broadcast side carries one flattened ``m·ksub`` int64 LUT per
    (query, cell) pair — |Q|·nprobe·m·ksub int64s, kilobytes at serving
    shapes. A code row joins only the (query, cell) rows of ITS cell and
    scores as the exact int64 sum ``Σ_j lut[j·ksub + code_j]``, so
    per-query results equal |Q| separate ``IvfPqResidualIndex.probe``
    calls bit-for-bit (pinned by test). Codes scan ONCE with file-level
    pruning on a ``partitionBy(centroid)`` layout; float vectors never
    load; ranking is one shuffle keyed by query_id. ASCENDING integer
    distances (ties by id), matching the single-query probe."""
    from pyspark.sql import Window

    probe_items = [
        (int(qid), sorted({int(c) for c in cells}))
        for qid, cells in probe_map.items()
    ]
    if not any(cells for _, cells in probe_items):
        raise ValueError("ivfpq_residual_batched_topk needs at least one probe cell")
    spark = codes_assigned.sparkSession
    id_col = index.id_col
    m, ksub = index.m, index.codebooks.shape[1]
    qvecs = {int(qid): vec for qid, vec in queries}
    lut_rows = []
    for qid, cells in probe_items:
        luts = index.luts_int(qvecs[qid], cells)
        for c in cells:
            lut_rows.append((qid, int(c), [int(x) for x in luts[c].ravel()]))
    probes = local_df(spark, 
        lut_rows, "query_id long, _pcell bigint, _lut array<bigint>"
    )
    cells_all = sorted({c for _, cells in probe_items for c in cells})
    subset = codes_assigned.where(F.col(centroid_col).isin(cells_all))
    score = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, j: F.get(F.col("_lut"), j * ksub + c),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = subset.join(
        F.broadcast(probes), F.col(centroid_col) == F.col("_pcell")
    ).select("query_id", F.col(id_col), score.alias("score"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


def mllib_lsh_topk(
    index_df: DataFrame,
    query_vec,
    k: int = 10,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """ANN top-k via MLlib ``BucketedRandomProjectionLSH`` (Euclidean LSH;
    on L2-normalized vectors the Euclidean and cosine rankings coincide:
    ||a-b||² = 2 - 2·cos). Returns ``(id, distance)`` for the ~k nearest.

    This is the library path SURVEY.md §4.2 names; ``portable_lsh_topk`` is
    the oracle-checkable equivalent. approxNearestNeighbors probes only the
    query's hash buckets — index scan is bucket-pruned exactly like IVF.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    from whatsapp_vectordb_spark.functions.vector import l2_normalize

    feat = index_df.select(
        F.col(id_col),
        array_to_vector(l2_normalize(F.col(vec_col))).alias("_features"),
    ).where(F.col("_features").isNotNull())
    lsh = BucketedRandomProjectionLSH(
        inputCol="_features",
        outputCol="_hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(feat)
    q = np.asarray(query_vec, dtype=np.float64)
    n = np.linalg.norm(q)
    if n > 0:
        q = q / n
    from pyspark.ml.linalg import Vectors

    out = model.approxNearestNeighbors(feat, Vectors.dense(q), k, distCol="distance")
    return out.select(F.col(id_col), F.round("distance", 6).alias("distance"))


def portable_lsh_topk_batched(
    index_df: DataFrame,
    query_ids: list,
    k: int = 5,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
    dim: int | None = None,
) -> DataFrame:
    """Batched ANN: many stored query vectors probed in ONE pass. The
    signature map runs once over the index; all queries' bucket keys
    broadcast together; per-query candidates verify + window-rank.

    Returns ``(query_id, id, score, rank)``. Scale shape: index scanned
    once regardless of |Q| (vs |Q| passes for repeated single probes);
    shuffle is candidates only, never |Q|×N.
    """
    dim = _resolve_dim(index_df, vec_col, dim)
    planes = portable_planes(dim, n_planes, seed)
    banded = _portable_bands(index_df, planes, bands, id_col, vec_col)
    qb = banded.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), "band", "chunk"
    )
    cand = (
        banded.join(F.broadcast(qb), ["band", "chunk"])
        .select("query_id", id_col)
        .dropDuplicates(["query_id", id_col])
    )
    qvecs = index_df.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    scored = (
        cand.join(index_df.select(id_col, vec_col), id_col)
        .join(F.broadcast(qvecs), "query_id")
    )
    score = cosine_similarity(F.col("_qv"), F.col(vec_col))
    if round_to is not None:
        score = F.round(score, round_to)
    scored = scored.select("query_id", id_col, score.alias("score")).where(
        F.col("score").isNotNull()
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def knn_graph_lsh(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 32,
    bands: int = 4,
    seed: int = 0,
    round_to: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Approximate kNN GRAPH over the whole corpus — for every vector, its
    top-``k`` cosine neighbors among LSH bucket candidates. This is the
    curation primitive behind density-based filtering, diversity sampling
    and duplicate clustering (a kNN graph feeds connected components /
    community detection the same way near-dup pairs do).

    Scale shape: candidate generation is ``portable_lsh_join`` verbatim
    (band-key equi-join — bucket collisions, never O(n²)); the only
    addition is symmetrizing the edges and one window rank per source
    node over its candidate edges, shuffled on the 8-byte node id.
    Recall per edge follows the LSH S-curve, so distant nodes may have
    < k edges — exactly the sparsity a density filter wants to see.
    """
    from pyspark.sql import Window

    pairs = portable_lsh_join(
        df,
        id_col=id_col,
        vec_col=vec_col,
        threshold=-1.0,
        n_planes=n_planes,
        bands=bands,
        seed=seed,
        round_to=round_to,
        dim=dim,
    )
    # symmetrize with ONE explode instead of a self-union (r18, guide
    # §1.2): a union of two selects over `pairs` duplicates the whole
    # upstream pipeline in the physical plan — the signature pass, the
    # band self-join, its dedup exchange and the cosine verify all ran
    # TWICE (once per branch; Spark does not share common subplans).
    # The exploded directed-edge rows are identical to the union's.
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src"),
                    F.col("id_b").alias("nbr"),
                    F.col("cos_sim"),
                ),
                F.struct(
                    F.col("id_b").alias("src"),
                    F.col("id_a").alias("nbr"),
                    F.col("cos_sim"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.nbr", "e.cos_sim")
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), F.col("nbr").asc())
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("src", "nbr", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


def graph_beam_topk(
    df: DataFrame,
    edges: DataFrame,
    query_vec,
    k: int = 10,
    beam_width: int = 8,
    iters: int = 3,
    n_entry: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    bucket_col: str | None = None,
    n_buckets: int = 64,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Graph-ANN search: best-first BEAM traversal over a precomputed kNN
    graph (the NSW/HNSW-family search step — Malkov & Yashunin 2018,
    single-layer form — run over the ``knn_graph_lsh`` edge list instead
    of an in-memory graph). Complements the cell-probe (IVF) and
    hash-bucket (LSH) families with the third major ANN access pattern:
    navigate edges toward the query instead of enumerating a partition
    of space.

    Deterministic contract (oracle-replayable): entry frontier = the
    ``n_entry`` LOWEST ids (no randomness); each of ``iters`` rounds
    expands frontier ∪ out-neighbors(frontier), scores candidates by
    cosine ROUNDED to ``round_to`` (ties → id ascending — the engine
    portability discipline every top-k here uses), keeps the best
    ``beam_width`` as the next frontier, and accumulates every scored
    candidate into the visited set; the result is the visited top-``k``.
    Fixed iteration count (not convergence) keeps the plan replayable by
    a statically unrolled SQL oracle.

    Scale shape: the frontier is ≤ ``beam_width`` rows by construction —
    every hop is a BROADCAST-frontier equi-join against the edge list
    plus one broadcast-candidate join against the vector table to score
    ≤ ``beam_width·(k_graph+1)`` rows. The hop's cost is the EDGE SCAN:
    a raw edge frame is scanned in full each hop (measured 2.08× the
    time at 10× the corpus — cheap but linear,
    tools/stress_graph_beam.py), so at scale pass a SOURCE-BUCKETED
    layout (``save_knn_graph`` — ``partitionBy(src_bucket)``) and set
    ``bucket_col``/``n_buckets``: the hop then filters to the frontier's
    buckets as a literal IN-list, partition pruning cuts the read to
    ≤ ``beam_width`` buckets, and per-hop cost becomes independent of
    corpus size — the property that makes graph ANN attractive at
    100 TB, bought exactly the way the serving tiers buy it
    (``partitionBy(centroid)``). Iteration state (ids only) is pinned
    with an eager ``localCheckpoint`` each round so the lineage stays
    O(1) deep, the same discipline as the pointer-doubling connected
    components.

    ``allowed`` (a one-column id frame) is FILTERED SEARCH, the HNSW
    convention: navigation stays UNfiltered (pruning disallowed hubs
    would disconnect the graph exactly where the filter is selective),
    the filter applies to result COLLECTION — the returned top-``k``
    comes from visited ∩ allowed. Consequence the serving tiers don't
    have: fewer than ``k`` rows can come back when the walk's visited
    set undersamples the allowed region (widen beam/iters, or use the
    cell-probe tiers whose pre-scan filter guarantees k matches).
    """
    qlit = array_lit(query_vec, "double")
    vecs = df.select(F.col(id_col), F.col(vec_col))

    def scored(ids: DataFrame) -> DataFrame:
        s = F.round(cosine_similarity(F.col(vec_col), qlit), round_to)
        return (
            vecs.join(F.broadcast(ids), id_col)
            .select(F.col(id_col), s.alias("score"))
            .where(F.col("score").isNotNull())
        )

    bucketed = bucket_col is not None and bucket_col in edges.columns
    if bucketed:
        # DRIVER-STATE traversal — the serving shape. Every set in a
        # beam traversal is bounded BY CONSTRUCTION (frontier ≤
        # beam_width, candidates ≤ beam_width·(degree+1), visited ≤
        # entry + iters·candidates), so the iteration state lives
        # driver-side (the MMR-shortlist discipline) and each hop runs
        # exactly TWO pruned cluster reads: the frontier's edge buckets
        # (literal IN-list → PartitionFilters on the save_knn_graph
        # layout) and the NEW candidate ids' vectors (IN-list pushed to
        # the scan; ids already scored are never re-read). No full
        # edge-list or vector-table scan anywhere — per-hop cost is
        # O(frontier·degree), independent of corpus size.
        score_expr = F.round(
            cosine_similarity(F.col(vec_col), qlit), round_to
        ).alias("score")

        def score_new(ids: list) -> dict:
            if not ids:
                return {}
            rows = (
                vecs.where(F.col(id_col).isin(ids))
                .select(F.col(id_col), score_expr)
                .where(F.col("score").isNotNull())
                .collect()
            )
            return {r[id_col]: r["score"] for r in rows}

        entry_ids = [
            r[id_col]
            for r in df.select(F.col(id_col))
            .orderBy(F.col(id_col).asc())
            .limit(n_entry)
            .collect()
        ]
        scores = score_new(entry_ids)
        queried = set(entry_ids)  # incl. null-score ids — never re-read
        frontier_ids = entry_ids
        visited: set = set(entry_ids)
        for _ in range(iters):
            buckets = sorted({i % n_buckets for i in frontier_ids})
            nbr_rows = (
                edges.where(F.col(bucket_col).isin(buckets))
                .where(F.col("src").isin(frontier_ids))
                .select("nbr")
                .distinct()
                .collect()
            )
            cand = set(frontier_ids) | {r["nbr"] for r in nbr_rows}
            fresh = sorted(cand - queried)
            queried |= cand
            scores.update(score_new(fresh))
            ranked = sorted(
                (i for i in cand if i in scores),
                key=lambda i: (-scores[i], i),
            )
            frontier_ids = ranked[:beam_width]
            visited |= cand
        pool = visited
        if allowed is not None:
            arows = (
                allowed.select(F.col(allowed.columns[0]).alias(id_col))
                .where(F.col(id_col).isin(sorted(visited)))
                .collect()
            )
            pool = {r[id_col] for r in arows}
        top = sorted(
            (i for i in pool if i in scores),
            key=lambda i: (-scores[i], i),
        )[:k]
        spark = df.sparkSession
        out_schema = (
            df.select(F.col(id_col), score_expr).schema
        )
        return local_df(spark, 
            [(i, scores[i]) for i in top], out_schema
        )

    out_edges = edges.select(F.col("src"), F.col("nbr"))
    frontier = (
        df.select(F.col(id_col)).orderBy(F.col(id_col).asc()).limit(n_entry)
    ).localCheckpoint(eager=True)
    visited = frontier
    for _ in range(iters):
        nbrs = out_edges.join(
            F.broadcast(frontier), out_edges["src"] == F.col(id_col)
        ).select(F.col("nbr").alias(id_col))
        cand = frontier.unionByName(nbrs).distinct().localCheckpoint(eager=True)
        frontier = (
            scored(cand)
            .orderBy(F.col("score").desc(), F.col(id_col).asc())
            .limit(beam_width)
            .select(id_col)
            .localCheckpoint(eager=True)
        )
        visited = visited.unionByName(cand).distinct().localCheckpoint(eager=True)
    final = scored(visited)
    if allowed is not None:
        final = final.join(
            F.broadcast(
                allowed.select(F.col(allowed.columns[0]).alias(id_col))
            ),
            id_col,
            "left_semi",
        )
    return final.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def graph_beam_topk_batched(
    df: DataFrame,
    edges: DataFrame,
    query_ids,
    k: int = 10,
    beam_width: int = 8,
    iters: int = 3,
    n_entry: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    bucket_col: str = "src_bucket",
    n_buckets: int = 64,
) -> DataFrame:
    """Batched beam traversal: Q stored query vectors walk the SAME
    bucketed edge layout (``save_knn_graph``) together — the family
    discipline every serving tier keeps (N queries = one pruned read
    per stage, bit-equal to N single calls, asserted in tests). Per
    hop there are exactly TWO cluster jobs regardless of Q: one edge
    read pruned to the UNION of all queries' frontier buckets (each
    query then takes its own adjacency from the collected pairs), and
    one vector read pruned to the union of ids any query sees for the
    first time, scored against the broadcast Q-row query frame in the
    same job. Per-query state (frontier/visited/scores) is driver-side
    and bounded by construction, exactly as the single-query serving
    path. Returns ``(query_id, vec_id, score, rank)``, rank 1..k per
    query by (score DESC, id ASC)."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    spark = df.sparkSession
    qids = list(query_ids)
    qrows = (
        df.where(F.col(id_col).isin(qids))
        .select(F.col(id_col), F.col(vec_col))
        .collect()
    )
    qvecs = {r[id_col]: [float(x) for x in r[vec_col]] for r in qrows}
    missing = [q for q in qids if q not in qvecs]
    if missing:
        raise ValueError(f"query ids not in the corpus: {missing}")
    qdf = local_df(spark, 
        [(int(q), qvecs[q]) for q in qids],
        "query_id long, _qv array<double>",
    )
    vecs = df.select(F.col(id_col), F.col(vec_col))
    score_expr = F.round(
        cosine_similarity(F.col(vec_col), F.col("_qv")), round_to
    ).alias("score")

    def score_union(ids: list) -> dict:
        if not ids:
            return {}
        rows = (
            vecs.where(F.col(id_col).isin(ids))
            .crossJoin(F.broadcast(qdf))
            .select(F.col("query_id"), F.col(id_col), score_expr)
            .where(F.col("score").isNotNull())
            .collect()
        )
        return {(r["query_id"], r[id_col]): r["score"] for r in rows}

    entry_ids = [
        r[id_col]
        for r in df.select(F.col(id_col))
        .orderBy(F.col(id_col).asc())
        .limit(n_entry)
        .collect()
    ]
    scores = score_union(entry_ids)
    state = {
        q: {
            "frontier": entry_ids[:],
            "visited": set(entry_ids),
            "queried": set(entry_ids),
        }
        for q in qids
    }
    for _ in range(iters):
        all_frontier = sorted(
            {i for st in state.values() for i in st["frontier"]}
        )
        buckets = sorted({i % n_buckets for i in all_frontier})
        pairs = (
            edges.where(F.col(bucket_col).isin(buckets))
            .where(F.col("src").isin(all_frontier))
            .select("src", "nbr")
            .distinct()
            .collect()
        )
        adj: dict = {}
        for r in pairs:
            adj.setdefault(r["src"], []).append(r["nbr"])
        new_union: set = set()
        for q, st in state.items():
            cand = set(st["frontier"])
            for fid in st["frontier"]:
                cand.update(adj.get(fid, []))
            st["cand"] = cand
            new_union |= cand - st["queried"]
        scores.update(score_union(sorted(new_union)))
        for q, st in state.items():
            st["queried"] |= st["cand"]
            ranked = sorted(
                (i for i in st["cand"] if (q, i) in scores),
                key=lambda i: (-scores[(q, i)], i),
            )
            st["frontier"] = ranked[:beam_width]
            st["visited"] |= st["cand"]
    out = []
    for q in qids:
        st = state[q]
        top = sorted(
            (i for i in st["visited"] if (q, i) in scores),
            key=lambda i: (-scores[(q, i)], i),
        )[:k]
        out.extend(
            (int(q), int(i), float(scores[(q, i)]), rank + 1)
            for rank, i in enumerate(top)
        )
    id_field = df.schema[id_col]
    schema = StructType(
        [
            StructField("query_id", id_field.dataType, False),
            StructField(id_col, id_field.dataType, False),
            StructField("score", DoubleType(), False),
            StructField("rank", IntegerType(), False),
        ]
    )
    return local_df(spark, out, schema)


def save_knn_graph(
    edges: DataFrame, path: str, n_buckets: int = 64
) -> DataFrame:
    """Persist a kNN-graph edge list for beam traversal, PARTITIONED BY
    SOURCE BUCKET (``src % n_buckets`` — integer pmod, engine-portable)
    — the layout that makes ``graph_beam_topk``'s per-hop cost
    O(frontier adjacency) instead of O(|edges|): a hop filters to the
    frontier's buckets as a literal IN-list, which Spark turns into
    PartitionFilters on this layout (measured: a full-edge-list hop
    scans 10× the bytes at 10× the corpus; a bucket-pruned hop reads
    ≤ beam_width buckets regardless of corpus size —
    tools/stress_graph_beam.py). Same move as the serving tiers'
    ``partitionBy(centroid)`` cell layout. Returns the reloaded frame
    (carrying the partition column) ready to pass to ``graph_beam_topk``
    with ``bucket_col="src_bucket", n_buckets=n_buckets``."""
    spark = edges.sparkSession
    (
        edges.select(
            "src", "nbr", (F.col("src") % n_buckets).alias("src_bucket")
        )
        .repartition("src_bucket")
        .write.partitionBy("src_bucket")
        .mode("overwrite")
        .parquet(path)
    )
    return spark.read.parquet(path)


def assign_cells_quantized(
    df: DataFrame,
    centroids_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid",
    centroid_vec_col: str = "cvec",
    scale: int = 1_000_000,
    pre_quantized: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment with INTEGER-exact arithmetic: vectors
    and centroids are quantized to ``round(x·scale)`` BIGINTs and ranked by
    integer squared-L2 (ties broken by centroid id). Integer sums are
    associative, so the argmin is bit-identical in any engine and under
    any partitioning — the property that lets incremental/streaming index
    maintenance be oracle-checked against a full recompute (float argmin
    can flip near-ties between engines; quantization error at 1e-6 is far
    below any meaningful cell boundary).

    Scale shape: the centroid table is tiny (k rows) and broadcast; the
    per-row work is a k-way integer distance fold inside codegen — a
    map-only operator with no shuffle (the row_number window partitions by
    the unique row id over k candidate rows, which AQE plans as a local
    sort within the broadcast-join output).

    Returns ``df``'s columns plus ``centroid``.
    """
    from pyspark.sql import Window

    q = lambda c: F.transform(c, lambda x: F.round(x.cast("double") * scale).cast("long"))
    left = df.withColumn("_qv", q(F.col(vec_col)))
    qc = (
        F.col(centroid_vec_col)  # already BIGINT quantized units (kmeans_lloyd)
        if pre_quantized
        else q(F.col(centroid_vec_col))
    )
    cents = centroids_df.select(F.col(centroid_id_col).alias("_cid"), qc.alias("_qc"))
    dist = F.aggregate(
        F.zip_with("_qv", "_qc", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_dist").asc(), F.col("_cid").asc())
    return (
        left.join(F.broadcast(cents))
        .withColumn("_dist", dist)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(*df.columns, F.col("_cid").alias("centroid"))
    )


def _kmeans_mapside_partials(qvecs: DataFrame, cents) -> DataFrame:
    """Map-side partial sums for one Lloyd update: ONE Arrow-batched pass
    over the pre-quantized vectors produces per-partition
    ``(centroid, pos, n, qsum)`` rows — no N·d posexplode, no id join.

    Bit-parity with the portable path by construction: the input is the
    SAME Spark-quantized BIGINT component array the portable path
    aggregates (quantization happens in the JVM via ``F.round`` BEFORE
    this pass — no Python float rounding anywhere), and everything here
    is int64 arithmetic. The argmin uses ``||c||² − 2 q·cᵀ`` (dropping
    the per-row-constant ``||q||²``) in int64 matmul — with |q| ≤ scale
    = 1e6 and d ≤ 2048 every term stays ≤ ~4e15, far inside int64, so
    distances are EXACT integers, unlike the float matmul identity in
    ``_argmin_sq``. Ties go to the lowest row index = lowest centroid id
    (``cents`` is sorted ascending). Per-partition output is ≤ k·d rows
    (the classic map-side combine), so the downstream shuffle is
    k·d·num_partitions — independent of N — versus the portable path's
    N·d-row join+shuffle per iteration.
    """
    import pandas as pd

    cids = np.asarray([cid for cid, _ in cents], dtype=np.int64)
    c_mat = np.asarray([qc for _, qc in cents], dtype=np.int64)
    k, d = c_mat.shape
    cnorm = (c_mat * c_mat).sum(axis=1)

    def part(batches):
        counts = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, d), dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            # NULL vectors contribute nothing — exactly what the portable
            # path's posexplode does (explode of NULL yields zero rows),
            # so NULL-row parity holds. Wrong-length vectors are dropped
            # here too: the portable explode would PARTIALLY count a
            # ragged vector's leading positions, which is meaningless —
            # fixed-dim is the operator contract (component-level NULLs
            # are likewise out of contract for both paths).
            vals = [v for v in pdf["_qv"] if v is not None and len(v) == d]
            if not vals:
                continue
            q = np.asarray(vals, dtype=np.int64)
            assign = (cnorm[None, :] - 2 * (q @ c_mat.T)).argmin(axis=1)
            counts += np.bincount(assign, minlength=k)
            for j in np.unique(assign):
                sums[j] += q[assign == j].sum(axis=0)
        nz = np.nonzero(counts)[0]
        if len(nz):
            yield pd.DataFrame(
                {
                    "centroid": np.repeat(cids[nz], d),
                    "pos": np.tile(np.arange(d, dtype=np.int32), len(nz)),
                    "n": np.repeat(counts[nz], d),
                    "qsum": sums[nz].reshape(-1),
                }
            )

    return qvecs.mapInPandas(
        part, schema="centroid bigint, pos int, n bigint, qsum bigint"
    )


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    history: list | None = None,
    stop_when_stable: bool = False,
    update_mode: str = "mapside",
):
    """Multi-iteration Lloyd k-means with INTEGER-exact quantized
    arithmetic — the convergence loop over the single step that
    ``assign_cells_quantized`` pins (harness ``cluster_kmeans_step``).

    Semantics (engine-portable by construction, so an unrolled-CTE SQL
    oracle can replay it bit-for-bit):

    - seeds = the ``k`` stored vectors with the smallest ids, quantized
      to ``round(x·scale)`` BIGINTs (deterministic, no RNG);
    - assignment = integer squared-L2 argmin, ties to the lower centroid
      id (map-only: broadcast centroids, codegen'd distance fold);
    - update   = per-component ``floor(qsum/n + 0.5)`` in quantized units
      (half-toward-+inf: ``-2.5 → -2``, unlike java.math HALF_UP's
      ties-away-from-zero — the exact FLOOR formula is the contract and
      the DuckDB oracle replays it verbatim; ``qsum`` and ``n`` are
      exactly representable doubles, and IEEE-754 division is exactly
      rounded, so the quotient — hence the floor — is bit-identical in
      the JVM, Python, and DuckDB);
    - empty cells carry their previous centroid forward unchanged;
    - convergence metric = per-centroid L1 movement in quantized units
      (exact integers; ``movement == 0`` for every centroid ⇔ fixpoint).

    Scale shape: each iteration is ONE distributed pass — broadcast k·d
    quantized centroids, map-only argmin, one centroid-keyed aggregate
    producing k·d (count, qsum) rows which are collected to the driver.
    That collect is bounded by k·d (NOT the data) — the same
    driver-resident-centroids contract as Spark MLlib's KMeans — and it
    truncates the iteration's lineage, so 100 iterations at 100 TB cost
    100 scans, not an exponentially deep plan.

    Returns ``(centroids, assigned, movement)``:
    ``centroids`` — list of (cid, [qc…]) after the final update;
    ``assigned`` — DataFrame (id_col, centroid) vs the FINAL centroids;
    ``movement`` — {cid: L1 movement of the LAST update, exact int}.

    ``history`` (optional caller-supplied list) receives one entry per
    executed iteration: ``(iteration, total L1 movement, seconds)`` —
    the iterations-to-stability evidence. ``stop_when_stable`` exits the
    loop early once an update moves no centroid (exact fixpoint; every
    later iteration would be identical).

    ``update_mode`` selects HOW the per-iteration (centroid, pos) →
    (count, qsum) aggregate is computed — the numbers are bit-identical
    either way (pinned by ``tests/test_ann.py`` parity):

    - ``"portable"`` (what the SQL oracle replays literally; oracle
      plumbing, NOT the at-scale plan — at 200k×1536 its N·d exploded
      frame needed ~90 GB of driver-adjacent heap): posexplode the
      quantized components once, then per iteration join the assignment
      back by id and groupBy — an N·d-row shuffle per iteration.
    - ``"mapside"`` (default — the production path at scale): one
      ``mapInPandas`` pass over the Spark-pre-quantized vectors computes
      the exact-integer argmin AND the per-partition partial sums in the
      same pass (``_kmeans_mapside_partials``); the shuffle per iteration
      is k·d·num_partitions rows, independent of N — the map-side
      combine MLlib's own KMeans uses.
    """
    import time as _time

    if update_mode not in ("portable", "mapside"):
        raise ValueError(f"update_mode must be portable|mapside, got {update_mode!r}")
    spark = df.sparkSession
    _quant = F.transform(
        vec_col, lambda x: F.round(x.cast("double") * scale).cast("long")
    )
    if update_mode == "portable":
        qcomp = df.select(
            id_col, F.posexplode(_quant).alias("pos", "qv")
        ).localCheckpoint()
    else:
        qvecs = df.select(_quant.alias("_qv")).localCheckpoint()

    seeds = (
        df.orderBy(F.col(id_col).asc())
        .limit(k)
        .select(
            id_col,
            F.transform(vec_col, lambda x: F.round(x.cast("double") * scale).cast("long")).alias("_qc"),
        )
        .collect()
    )
    cents = [(int(r[id_col]), [int(x) for x in r["_qc"]]) for r in seeds]
    cents.sort()
    movement: dict[int, int] = {cid: 0 for cid, _ in cents}

    def _assign(current) -> DataFrame:
        cents_df = local_df(spark, 
            [(cid, qc) for cid, qc in current], "centroid bigint, cvec array<bigint>"
        )
        return assign_cells_quantized(
            df, cents_df, id_col=id_col, vec_col=vec_col, scale=scale, pre_quantized=True
        ).select(id_col, "centroid")

    for it in range(iters):
        t0 = _time.perf_counter()
        if update_mode == "portable":
            agg = (
                _assign(cents)
                .join(qcomp, id_col)
                .groupBy("centroid", "pos")
                .agg(F.count("*").alias("n"), F.sum("qv").alias("qsum"))
                .collect()
            )
        else:
            agg = (
                _kmeans_mapside_partials(qvecs, cents)
                .groupBy("centroid", "pos")
                .agg(F.sum("n").alias("n"), F.sum("qsum").alias("qsum"))
                .collect()
            )
        upd: dict[int, dict[int, int]] = {}
        for r in agg:
            # floor(qsum/n + 0.5) on exact doubles — see docstring
            upd.setdefault(int(r["centroid"]), {})[int(r["pos"])] = int(
                math.floor(int(r["qsum"]) / int(r["n"]) + 0.5)
            )
        nxt = []
        movement = {}
        for cid, qc in cents:
            new_qc = [upd[cid][j] for j in range(len(qc))] if cid in upd else list(qc)
            movement[cid] = sum(abs(a - b) for a, b in zip(new_qc, qc))
            nxt.append((cid, new_qc))
        cents = nxt
        if history is not None:
            history.append(
                (it + 1, sum(movement.values()), round(_time.perf_counter() - t0, 2))
            )
        if stop_when_stable and all(m == 0 for m in movement.values()):
            break

    return cents, _assign(cents), movement


class OpqIvfPqIndex:
    """OPQ + residual IVF-PQ composed — FAISS's ``OPQm,IVFc,PQm`` recipe:
    a learned orthogonal rotation decorrelates the subspaces FIRST, then
    the rotated space gets the coarse quantizer and residual codebooks.
    Rotation preserves norms and inner products, so cosine/L2 rankings in
    rotated space equal those in the original space — the rotation only
    changes how well the product codebooks fit (Ge et al. CVPR 2013 §5
    train OPQ independently of the coarse quantizer; we do the same).

    Composition, not reimplementation: the inner index IS an
    ``IvfPqResidualIndex`` living entirely in rotated space; build/encode/
    probe rotate at the boundary and delegate, so the probe stays the
    integer-LUT ADC scan the SQL oracle already replays bit-for-bit.
    """

    def __init__(self, rotation: np.ndarray, inner: IvfPqResidualIndex):
        self.rotation = rotation
        self.inner = inner

    def _rotate_df(self, df: DataFrame) -> DataFrame:
        import pandas as pd
        from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

        rot = self.rotation
        id_col, vec_col = self.inner.id_col, self.inner.vec_col
        out_schema = StructType(
            [df.schema[id_col], StructField(vec_col, ArrayType(DoubleType()), False)]
        )

        def rr(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                v = PqIndex._normalize(np.asarray(pdf[vec_col].tolist(), dtype=np.float64))
                yield pd.DataFrame({id_col: pdf[id_col], vec_col: list(v @ rot)})

        return df.select(id_col, vec_col).mapInPandas(rr, schema=out_schema)

    @classmethod
    def build(
        cls,
        df: DataFrame,
        n_centroids: int = 8,
        m: int = 8,
        ksub: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        sample_rows: int = 2048,
        seed: int = 0,
        iters: int = 10,
        opq_iters: int = 8,
    ) -> "OpqIvfPqIndex":
        x = PqIndex._normalize(_train_sample(df, id_col, vec_col, sample_rows))
        dim = x.shape[1]
        r = np.eye(dim)
        for _ in range(opq_iters):
            xr = x @ r
            books = _lloyd_codebooks(xr, m, ksub, seed, iters)
            recon = OpqIndex._reconstruct(xr, books)
            u, _, vt = np.linalg.svd(x.T @ recon)
            r = u @ vt
        shell = cls(r, IvfPqResidualIndex(np.empty((0, dim)), np.empty((m, ksub, dim // m)), id_col, vec_col))
        inner = IvfPqResidualIndex.build(
            shell._rotate_df(df),
            n_centroids=n_centroids,
            m=m,
            ksub=ksub,
            id_col=id_col,
            vec_col=vec_col,
            sample_rows=sample_rows,
            seed=seed,
            iters=iters,
        )
        return cls(r, inner)

    def _rotate_query(self, query_vec) -> np.ndarray:
        q = PqIndex._normalize(np.asarray(query_vec, dtype=np.float64))
        return q @ self.rotation

    def encode(self, df: DataFrame) -> DataFrame:
        return self.inner.encode(self._rotate_df(df))

    def probe_cells(self, query_vec, nprobe: int) -> list[int]:
        return self.inner.probe_cells(self._rotate_query(query_vec), nprobe)

    def luts_int(self, query_vec, cells: list[int]):
        return self.inner.luts_int(self._rotate_query(query_vec), cells)

    def probe(
        self, encoded: DataFrame, query_vec, k: int = 10, nprobe: int = 2
    ) -> DataFrame:
        return self.inner.probe(encoded, self._rotate_query(query_vec), k=k, nprobe=nprobe)


def binary_signature(vec_col, dim: int):
    """Sign-bit binary quantization (the 1-bit compression modern vector
    stores ship as "BQ"): two 32-bit words ``(sig_lo, sig_hi)`` with bit
    ``i`` set iff coordinate ``i`` > 0. Two words, not one 64-bit value:
    ``2^63`` would overflow BIGINT in the SQL oracle; 32-bit halves stay
    integer-exact in both engines. Codegen'd HOF fold — no UDF, no
    shuffle."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col

    def word(lo: int, hi: int):
        # pow(2, i) is float-exact for i < 53 (shiftleft's PySpark wrapper
        # only takes a literal shift amount, not a per-element column)
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(lo), F.lit(hi - 1)),
                lambda i: F.when(
                    F.element_at(v, i + 1) > 0,
                    F.pow(F.lit(2.0), (i - lo).cast("double")).cast("long"),
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    half = min(32, dim)
    return word(0, half), word(half, dim) if dim > half else F.lit(0).cast("long")


def binary_hamming_topk(
    index_df: DataFrame,
    query_vec,
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hamming top-k over sign-bit signatures: 64 dims collapse to 8
    bytes/vector (32× smaller than float32), distance is two XOR +
    popcount instructions — the cheapest possible first-stage scan. Ties
    break by id ascending. At 100 TB the signature column is what you
    scan; the float vectors page in only for the re-rank shortlist
    (see the recall-gate query)."""
    lo, hi = binary_signature(vec_col, dim)
    qlo = sum((1 << i) for i in range(min(32, dim)) if query_vec[i] > 0)
    qhi = sum((1 << (i - 32)) for i in range(32, dim) if query_vec[i] > 0)
    ham = (
        F.bit_count(lo.bitwiseXOR(F.lit(qlo).cast("long")))
        + F.bit_count(hi.bitwiseXOR(F.lit(qhi).cast("long")))
    ).cast("long")
    return (
        index_df.select(F.col(id_col), ham.alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
        .limit(k)
    )


def _sq8_spark_min_fold(m: "np.ndarray") -> "np.ndarray":
    """Columnwise min under Spark's ordering: NaN ranks above +inf, so it
    never wins a min unless the whole column is NaN (the F.min-skips-NaN
    parity rule of the SQ8 train — ADVICE r12)."""
    isnan = np.isnan(m)
    out = np.where(isnan, np.inf, m).min(axis=0)
    return np.where(isnan.all(axis=0), np.nan, out)


def _sq8_train_cell_counts(
    assigned: DataFrame, vec_col: str, n_cells: int
) -> tuple[list[float], list[float], list[int]]:
    """ONE Arrow pass over a cell-assigned frame: the per-dimension SQ8
    scaler (``sq8_train``'s contract) AND the per-centroid occupancy
    counts the degenerate-layout tripwire thresholds. Each partition
    folds its batches to one (min, max, counts) row; the driver folds
    those rows. min/max are exact under any association, so the result
    does not depend on the partitioning. Rows with a NULL vector are
    skipped. Empty input returns ([], [], zeros)."""
    def part_stats(batches):
        import pandas as pd

        mn = mx = None
        cnt = np.zeros(n_cells, dtype=np.int64)
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]  # F.min/F.max skip NULL rows too
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            pmn, pmx = _sq8_spark_min_fold(m), m.max(axis=0)
            mn = pmn if mn is None else _sq8_spark_min_fold(np.vstack([mn, pmn]))
            mx = pmx if mx is None else np.maximum(mx, pmx)
            cnt += np.bincount(
                pdf["centroid"].to_numpy().astype(np.int64), minlength=n_cells
            )
        if mn is not None:
            yield pd.DataFrame(
                {"mn": [mn.tolist()], "mx": [mx.tolist()], "cnt": [cnt.tolist()]}
            )

    parts = (
        assigned.select(vec_col, "centroid")
        .mapInPandas(
            part_stats, schema="mn array<double>, mx array<double>, cnt array<long>"
        )
        .collect()
    )
    if not parts:
        return [], [], [0] * n_cells
    # collect() surfaces a NaN array element as None — cast back to
    # float64 (None -> NaN) before folding
    mn = _sq8_spark_min_fold(np.array([r["mn"] for r in parts], dtype=np.float64))
    mx = np.max(np.array([r["mx"] for r in parts], dtype=np.float64), axis=0)
    counts = np.sum([r["cnt"] for r in parts], axis=0, dtype=np.int64)
    mins = [float(v) for v in mn]
    deltas = [
        ((float(b) - float(a)) / 255.0) if b > a else 1.0
        for a, b in zip(mn, mx)
    ]
    return mins, deltas, [int(c) for c in counts]


def sq8_train(
    df: DataFrame, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, delta) for 8-bit scalar quantization (the
    FAISS ``SQ8`` tier): delta = (max-min)/255, constant dims get
    delta=1 so their code is exactly 0. Training is ONE pass — fully
    analytic, no RNG, no iteration — which is what lets the whole SQ8
    tier (train + encode + score) be replayed end-to-end by a SQL oracle
    (``min``/``max`` per dimension), unlike the k-means-built tiers whose
    build is opaque. It is the Arrow min/max pass ``IvfSq8Index.build``
    runs (``_sq8_train_cell_counts`` over one constant cell): one 2×dim
    row per partition, folded driver-side — no explode, no shuffle.
    NULL vectors are skipped; empty input gives ([], []).

    NaN parity (ADVICE r12): Spark orders NaN GREATER than every other
    double, so ``F.min`` skips NaN (returns the smallest real value;
    NaN only if the whole column is NaN) while ``F.max`` returns NaN
    whenever one is present. numpy's plain min/max propagate NaN to
    BOTH sides, so the fold reduces min under the same
    NaN-as-greater-than-all ordering (``_sq8_spark_min_fold``; plain
    max already matches Spark's propagate-on-max)."""
    mins, deltas, _ = _sq8_train_cell_counts(
        df.select(vec_col, F.lit(0).alias("centroid")), vec_col, 1
    )
    return mins, deltas


def sq8_encode(
    df: DataFrame,
    mins: list[float],
    deltas: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """8-bit codes: c_d = clamp(floor((x_d - min_d)/delta_d + 0.5), 0, 255)
    at far higher per-dim fidelity than PQ's 16-byte whole-vector codes
    (sub-1% quantization error per dim vs centroid error). The
    floor(z + 0.5) form (not round()) is the engine-portable half-up
    rule shared with kmeans_lloyd's update. Map-only; pure zip_with.

    Storage: the column is ``array<smallint>`` (Spark has no unsigned
    byte; 0..255 overflows tinyint) — 2 B/dim logical, and parquet's
    bit-packed/RLE encoding of the ≤8-bit values lands at ~1 B/dim on
    disk, the ~4× cut vs float32 that makes the codes table the thing
    you scan."""
    return df.select(F.col(id_col), _sq8_codes(vec_col, mins, deltas))


def _sq8_codes(vec_col: str, mins: list[float], deltas: list[float]):
    """The ``sq8_codes`` column of ``sq8_encode`` as one expression, so a
    frame that already carries its cell (``assign_nearest_centroid``)
    encodes in the same projection instead of joining codes back on id."""
    mn = array_lit(mins, "double")
    dl = array_lit(deltas, "double")
    centered = F.zip_with(
        F.col(vec_col), mn, lambda x, m: x.cast("double") - m
    )
    codes = F.zip_with(
        centered,
        dl,
        lambda d, s: F.least(
            F.lit(255).cast("long"),
            F.greatest(F.lit(0).cast("long"), F.floor(d / s + F.lit(0.5))),
        ),
    )
    return codes.cast("array<smallint>").alias("sq8_codes")


def sq8_topk(
    codes_df: DataFrame,
    query_vec,
    deltas: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    scale: int = 1_000_000_000,
    impl: str = "expr",
) -> DataFrame:
    """Integer ADC over SQ8 codes: dot(x̂, q) = Σ min_d·q_d (constant —
    rank-irrelevant, dropped) + Σ c_d·(delta_d·q_d); the per-dim weights
    w_d = floor(delta_d·q_d·scale + 0.5) are int64 literals, so the
    whole scan is Σ c_d·w_d integer arithmetic — exact in any engine,
    no float fold order to diverge. Codes ≤ 255, |w| ≤ ~|q|·Δ·10⁹,
    dim ≤ 4k: comfortably inside int64. Ties break by id.
    ``TakeOrderedAndProject`` keeps the k-heap per task — the codes
    table is the ONLY thing scanned (the float vectors never load).

    ``impl``: ``"expr"`` (default) scores with the zip_with/aggregate HOF
    — SQL-oracle-parity form, fine to a few hundred dims; ``"numpy"``
    does the same integer dot as one Arrow-batched matmul per partition
    plus a per-partition k-heap (``mapInPandas`` emitting ≤k rows each)
    — the at-scale path at ada-002 dimensionality, bit-identical scores
    (both are exact int64 arithmetic, pinned by test)."""
    w = [int(np.floor(float(q) * d * scale + 0.5)) for q, d in zip(query_vec, deltas)]
    if impl == "numpy":
        wv = np.asarray(w, dtype=np.int64)
        kk = k

        def part_topk(batches):
            import pandas as pd

            best: pd.DataFrame | None = None
            for pdf in batches:
                if len(pdf) == 0:
                    # Arrow batch boundaries can emit empty batches;
                    # np.vstack([]) raises (ADVICE r11)
                    continue
                c = np.vstack(pdf["sq8_codes"].to_numpy()).astype(np.int64)
                s = c @ wv
                cur = pd.DataFrame({id_col: pdf[id_col], "score_int": s})
                best = cur if best is None else pd.concat((best, cur))
                best = best.sort_values(
                    ["score_int", id_col], ascending=[False, True]
                ).head(kk)
            if best is not None:
                yield best

        partial = codes_df.select(id_col, "sq8_codes").mapInPandas(
            part_topk, schema=f"{id_col} long, score_int long"
        )
        return partial.orderBy(
            F.col("score_int").desc(), F.col(id_col).asc()
        ).limit(k)
    warr = array_lit(w, "bigint")
    score = F.aggregate(
        F.zip_with(F.col("sq8_codes"), warr, lambda c, wv_: c * wv_),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return (
        codes_df.select(F.col(id_col), score.alias("score_int"))
        .orderBy(F.col("score_int").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_sq8_topk(
    codes_df: DataFrame,
    probe_cells,
    query_vec,
    deltas: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    centroid_col: str = "centroid",
    scale: int = 1_000_000_000,
    impl: str = "expr",
) -> DataFrame:
    """IVF-SQ8 (the FAISS ``IVFx,SQ8`` composite): coarse-quantizer cell
    pruning over a codes table — the two scale levers stacked. The codes
    carry their cell id; the probe filters to ``probe_cells`` and runs
    the exact integer dot ADC of ``sq8_topk`` over ONLY those cells.
    When ``codes_df`` reads a ``partitionBy(centroid)`` layout the
    ``isin`` filter is file-level partition pruning — probed bytes
    scale with nprobe/k of (already 4×-compressed) codes, and the float
    vectors never load at all. Both stages are analytic (Lloyd quantizer
    + per-dim min/delta), so build + train + encode + prune + score all
    replay inside one SQL oracle — the only fully-hash-gated composite
    index tier (the k-means-built IVF-PQ rows carve the build out as
    persisted state)."""
    cells = [int(c) for c in probe_cells]
    if not cells:
        # an empty isin would silently return zero rows — indistinguishable
        # from "no matches"; a probe with no cells is a caller bug
        raise ValueError("ivf_sq8_topk needs at least one probe cell")
    pruned = codes_df.where(F.col(centroid_col).isin(cells))
    return sq8_topk(
        pruned.select(id_col, "sq8_codes"),
        query_vec,
        deltas,
        k=k,
        id_col=id_col,
        scale=scale,
        impl=impl,
    )


def sq8_rerank_topk(
    codes_df: DataFrame,
    vectors_df: DataFrame,
    query_vec,
    deltas: list[float],
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "dotproduct",
    round_to: int | None = 6,
    impl: str = "expr",
) -> DataFrame:
    """Quantized-shortlist → exact re-rank: THE production serving shape
    (FAISS two-stage search; the SQ8 twin of ``pq_topk_rerank``). Stage 1
    scans ONLY the 4×-compressed codes table with the integer ADC and
    keeps a ``shortlist`` of ids; stage 2 pages in just those
    ``shortlist`` float vectors (broadcast semi-join — the big vectors
    table never shuffles) and ranks them exactly. Final scores are the
    EXACT metric — quantization error can only cost recall (a true
    neighbor missing the shortlist), never corrupt a returned score; with
    a covering shortlist the result equals the full exact scan
    bit-for-bit (pinned by test and by the registry oracle, which
    replays shortlist AND re-rank)."""
    short = sq8_topk(
        codes_df, query_vec, deltas, k=shortlist, id_col=id_col, impl=impl
    ).select(id_col)
    cand = vectors_df.join(F.broadcast(short), id_col)
    return topk(
        cand,
        query_vec,
        k=k,
        metric=metric,
        id_col=id_col,
        vec_col=vec_col,
        round_to=round_to,
    )


def ivf_sq8_rerank_topk(
    codes_df: DataFrame,
    vectors_df: DataFrame,
    probe_cells,
    query_vec,
    deltas: list[float],
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_col: str = "centroid",
    metric: str = "dotproduct",
    round_to: int | None = 6,
    impl: str = "expr",
) -> DataFrame:
    """The full FAISS-style production serving stack in one call
    (``IVFx,SQ8`` + refine): (1) PRUNE — file-level partition filtering
    to the ``probe_cells`` of a ``partitionBy(centroid)`` codes layout;
    (2) SHORTLIST — integer-ADC top-``shortlist`` over ONLY those cells'
    4×-compressed codes (``sq8_topk``; the float vectors never scan);
    (3) REFINE — exact re-rank of just the shortlist's float vectors via
    broadcast semi-join (``sq8_rerank_topk``; the big table never
    shuffles). Final scores are the EXACT metric, so the two
    approximations (cell pruning, quantization) can only cost recall —
    never corrupt a returned score. This is what a 100 TB query actually
    runs: probed bytes = (nprobe/k) of the codes table, plus
    ``shortlist`` float point-reads. Every stage is analytic (Lloyd
    cells + per-dim min/delta + exact dot), so the whole pipeline
    replays inside one SQL oracle, like its component tiers."""
    cells = [int(c) for c in probe_cells]
    if not cells:
        # an empty isin would silently return zero rows (see ivf_sq8_topk)
        raise ValueError("ivf_sq8_rerank_topk needs at least one probe cell")
    pruned = codes_df.where(F.col(centroid_col).isin(cells))
    return sq8_rerank_topk(
        pruned.select(id_col, "sq8_codes"),
        vectors_df,
        query_vec,
        deltas,
        k=k,
        shortlist=shortlist,
        id_col=id_col,
        vec_col=vec_col,
        metric=metric,
        round_to=round_to,
        impl=impl,
    )


def ivf_sq8_batched_topk(
    codes_df: DataFrame,
    queries: list,
    probe_map: dict,
    deltas: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    centroid_col: str = "centroid",
    scale: int = 1_000_000_000,
    impl: str = "expr",
) -> DataFrame:
    """Batched IVF-SQ8 probe: top-k for MANY queries in ONE scan over
    the union of their probed cells (the SQ8 twin of
    ``IvfIndex.probe_batched`` — per-query rescans of shared cells are
    what a 1000-query serving batch can't afford). ``queries`` is
    ``[(query_id, vector)]``; ``probe_map`` maps each query_id to its
    probed cell ids (computed driver-side against the in-memory
    centroids, as the single-query path does).

    The per-query integer weight LUTs w_d = ⌊q_d·Δ_d·scale+½⌋ (|Q|·dim
    int64s) broadcast with the (query, cell) probe map; each code row is
    scored only against the queries that probed ITS cell, with the same
    exact int64 zip_with fold as ``sq8_topk`` — so per-query results
    equal |Q| separate ``ivf_sq8_topk`` calls bit-for-bit (pinned by
    test). Ranking is one shuffle keyed by query_id, bounded per query
    by its probed-cell rows. The codes table is scanned ONCE, pruned to
    the union of probed cells (file-level PartitionFilters on a
    ``partitionBy(centroid)`` layout); float vectors never load.

    ``impl``: ``"expr"`` (default, SQL-oracle-parity form) scores every
    (row, probing query) pair with the zip_with HOF; ``"numpy"`` groups
    each Arrow batch by cell and scores ALL of that cell's probing
    queries in ONE int64 matmul (C @ Wᵀ) with a per-(partition, query)
    k-heap emitting ≤ k rows each — the at-scale path at ada-002
    dimensionality (the HOF fold re-parses the weight array per pair;
    the matmul amortizes the batch across queries). Bit-identical
    scores (exact int64 both ways, pinned by test)."""
    from pyspark.sql import Window

    # Per-query cells are DEDUPED here (ADVICE r13): a repeated cell id in
    # probe_map would otherwise score the same (query, row) pair once per
    # repeat — duplicate rows in the expr join and duplicate qid entries in
    # the numpy cell grouping — letting one vec_id fill multiple top-k
    # slots. The single-query path gets this for free from ``isin``.
    probe_rows = [
        (int(qid), c)
        for qid, cells in probe_map.items()
        for c in sorted({int(c) for c in cells})
    ]
    if not probe_rows:
        raise ValueError("ivf_sq8_batched_topk needs at least one probe cell")
    spark = codes_df.sparkSession
    wvecs = {
        int(qid): [
            int(np.floor(float(q) * d * scale + 0.5)) for q, d in zip(vec, deltas)
        ]
        for qid, vec in queries
    }
    cells = sorted({c for _, c in probe_rows})
    subset = codes_df.where(F.col(centroid_col).isin(cells))
    if impl == "numpy":
        cell_qids: dict[int, list[int]] = {}
        for qid, c in probe_rows:  # deduped above — one qid per (cell, query)
            cell_qids.setdefault(c, []).append(qid)
        wmat = {q: np.asarray(w, dtype=np.int64) for q, w in wvecs.items()}
        kk = k

        def part_topk(batches):
            import pandas as pd

            # per-(query) heap across the partition's batches
            best: dict[int, pd.DataFrame] = {}
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                for cell, grp in pdf.groupby(centroid_col):
                    qids = cell_qids.get(int(cell))
                    if not qids:
                        continue
                    c = np.vstack(grp["sq8_codes"].to_numpy()).astype(np.int64)
                    wm = np.stack([wmat[q] for q in qids])  # (Qc, dim)
                    s = c @ wm.T  # (rows, Qc) exact int64
                    ids = grp[id_col].to_numpy()
                    for j, qid in enumerate(qids):
                        cur = pd.DataFrame({id_col: ids, "score_int": s[:, j]})
                        prev = best.get(qid)
                        cur = cur if prev is None else pd.concat((prev, cur))
                        best[qid] = cur.sort_values(
                            ["score_int", id_col], ascending=[False, True]
                        ).head(kk)
            for qid, b in best.items():
                b = b.copy()
                b.insert(0, "query_id", np.int64(qid))
                yield b

        partial = subset.select(id_col, "sq8_codes", centroid_col).mapInPandas(
            part_topk, schema=f"query_id long, {id_col} long, score_int long"
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score_int").desc(), F.col(id_col).asc()
        )
        return (
            partial.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k)
            .drop("_rk")
        )
    wdf = local_df(spark, 
        [(qid, w) for qid, w in wvecs.items()],
        "query_id long, _w array<bigint>",
    )
    probes = local_df(spark, 
        probe_rows, "query_id long, _pcell bigint"
    ).join(F.broadcast(wdf), "query_id")
    score = F.aggregate(
        F.zip_with(
            F.col("sq8_codes"), F.col("_w"), lambda c, wv: c.cast("long") * wv
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = subset.join(
        F.broadcast(probes), F.col(centroid_col) == F.col("_pcell")
    ).select("query_id", F.col(id_col), score.alias("score_int"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_int").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


def ivf_sq8_batched_rerank_topk(
    codes_df: DataFrame,
    vectors_df: DataFrame,
    queries: list,
    probe_map: dict,
    deltas: list[float],
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_col: str = "centroid",
    metric: str = "dotproduct",
    round_to: int | None = 6,
    scale: int = 1_000_000_000,
    impl: str = "expr",
) -> DataFrame:
    """The batched production serving shape end-to-end: ONE codes scan
    answers every query's quantized shortlist
    (``ivf_sq8_batched_topk``; ``impl`` selects its expr/numpy scoring
    kernel), then ONE pass over the float table
    re-ranks all shortlists exactly — the |Q|·``shortlist`` (query, id)
    pairs broadcast into the vectors table (it never shuffles), each
    candidate scores against its own query's float vector, and a
    query_id-keyed window keeps the top ``k``. Final scores are the
    EXACT metric, so cell pruning and quantization can only cost recall
    (per query), never corrupt a score. At 100 TB and a 1000-query
    batch: (union-of-probed-cells / k) of the compressed codes scanned
    once + |Q|·``shortlist`` float point-reads — vs |Q| full serving
    round-trips for the one-at-a-time path."""
    short = ivf_sq8_batched_topk(
        codes_df,
        queries,
        probe_map,
        deltas,
        k=shortlist,
        id_col=id_col,
        centroid_col=centroid_col,
        scale=scale,
        impl=impl,
    ).select("query_id", id_col)
    return batched_exact_rerank(
        vectors_df,
        short,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        metric=metric,
        round_to=round_to,
    )


def batched_exact_rerank(
    vectors_df: DataFrame,
    short: DataFrame,
    queries: list,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "dotproduct",
    round_to: int | None = 6,
) -> DataFrame:
    """The batched serving stack's exact tail, shared by the SQ8 and
    IVF-PQ tiers: the |Q|·shortlist ``(query_id, id)`` pairs broadcast
    into the float table (it never shuffles), each candidate scores
    against its own query's float vector, and a query_id-keyed window
    keeps the top ``k``. Final scores are the EXACT metric, so cell
    pruning and quantization can only cost recall (per query), never
    corrupt a score. NULL scores rank last and drop after the window:
    a filter before it would be pushed into the join condition and
    score every candidate twice."""
    from pyspark.sql import Window

    from whatsapp_vectordb_spark.functions.vector import (
        metric_ascending,
        similarity_score,
    )

    spark = vectors_df.sparkSession
    qdf = local_df(spark, 
        [(int(qid), [float(x) for x in vec]) for qid, vec in queries],
        "query_id long, _qv array<double>",
    )
    score = similarity_score(F.col(vec_col), F.col("_qv"), metric)
    if round_to is not None:
        score = F.round(score, round_to)
    scored = (
        vectors_df.join(F.broadcast(short), id_col)
        .join(F.broadcast(qdf), "query_id")
        .select("query_id", F.col(id_col), score.alias("score"))
    )
    order = (
        F.col("score").asc_nulls_last()
        if metric_ascending(metric)
        else F.col("score").desc()
    )
    w = Window.partitionBy("query_id").orderBy(order, F.col(id_col).asc())
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where((F.col("_rk") <= k) & F.col("score").isNotNull())
        .drop("_rk")
    )


def _committed_batches(path: str) -> list[str]:
    """Committed batch-dir names for a saved layout, sorted, through the
    duplicate-seq tripwire (``commitlog._batch_names_checked``): the
    strictly-older tombstone mask cannot order two commits at one seq,
    so every read of the commit log refuses them."""
    return _batch_names_checked(
        os.path.join(path, "batches"), f"layout at {path!r}"
    )


def _layout_epoch(path: str) -> int:
    """Current FOLD EPOCH of a saved layout — the monotonically
    increasing counter ``meta.json`` carries (``fold_epoch``), bumped by
    every fold/full-rewrite save. Commit SEQS reset at each fold; the
    epoch never does, so an ``(epoch, seq)`` pair is a STABLE snapshot
    identifier across folds (the Delta/Iceberg monotonic-version rule —
    ADVICE r16). Pre-epoch layouts read as epoch 0."""
    return int(_layout_meta(path).get("fold_epoch", 0))


def _layout_meta(path: str) -> dict:
    """The ``meta.json`` in ``path``: a layout's tip, or one retained
    fold dir (``_retained/<F>`` keeps epoch F-1's own meta)."""
    import json as _json

    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        raise FileNotFoundError(
            f"no saved layout at {path!r} (missing meta.json)"
        )
    with open(meta_path) as f:
        return _json.load(f)


def _as_nullable(dt):
    """``dt`` with every field and array element nullable — the shape a
    parquet footer reads back as (Spark writes every column nullable),
    so a recorded schema compares equal to an inferred one."""
    from pyspark.sql.types import ArrayType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True) for f in dt]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    return dt


def _layout_schemas(idx, code_col: str, store_vectors: bool) -> dict:
    """The ``schemas`` entry of a layout's ``meta.json``: the columns each
    table's roots hold — ``codes`` and ``vectors`` with their partition
    column ``centroid``, ``deletes`` as the tombstone id — without the
    per-commit ``_seq``. ``save`` and the fold record it in the staged
    meta (so the last-rename publish covers it), and every reader of a
    layout root passes it to ``spark.read.schema``: no root pays a
    footer-inference job. Reading ``.schema`` is analysis only."""
    from pyspark.sql.types import StructType

    codes = _as_nullable(
        idx.codes.select(idx.id_col, code_col, "centroid").schema
    )
    out = {
        "codes": codes.jsonValue(),
        "deletes": StructType([codes[idx.id_col]]).jsonValue(),
    }
    if store_vectors:
        out["vectors"] = _as_nullable(
            idx.vectors.select(idx.id_col, idx.vec_col, "centroid").schema
        ).jsonValue()
    return out


def _recorded_schema(meta: dict, sub: str):
    """One table's recorded schema (``_layout_schemas``), or None for a
    layout saved before schemas were recorded: its readers infer from
    the first root's footer instead — the one fallback."""
    from pyspark.sql.types import StructType

    rec = meta.get("schemas", {}).get(sub)
    return None if rec is None else StructType.fromJson(rec)


def _read_table(spark: SparkSession, root: str, schema) -> DataFrame:
    """One parquet root under ``schema`` (no inference job), or with its
    footer inferred when there is none."""
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(
        root
    )


def _seq_schema(spark: SparkSession, schema, first_root: str):
    """The schema every root of one layout table reads under: the
    recorded one (or, without it, ``first_root``'s footer minus
    ``_seq``, inferred once) plus a nullable ``_seq``."""
    from pyspark.sql.types import LongType, StructField, StructType

    if schema is None:
        schema = StructType(
            [f for f in spark.read.parquet(first_root).schema if f.name != "_seq"]
        )
    return StructType(
        list(schema.fields) + [StructField("_seq", LongType(), True)]
    )


def _read_seq_root(
    spark: SparkSession, root: str, seq: int, with_seq
) -> DataFrame:
    """One layout root under ``with_seq`` (``_seq_schema``), each row
    carrying its commit ``_seq``. Files without a ``_seq`` column (the
    base layout; a numbered root from an older build) read it as NULL
    and fall back to the dir-name seq — base = 0 — through the same
    ``coalesce``, so every union branch has ONE shape whatever its seq.
    That matters to the tombstone mask: a literal ``_seq = 0`` on the
    base branch would be folded into that branch's build side, and the
    broadcast could no longer be reused across branches."""
    return spark.read.schema(with_seq).parquet(root).withColumn(
        "_seq", F.coalesce(F.col("_seq"), F.lit(seq).cast("long"))
    )


def _empty_table(spark: SparkSession, path: str, sub: str, meta: dict):
    """A 0-row frame, in ``_read_seq_root``'s shape, for a layout table
    whose roots hold no rows: an empty save, or a fold after every row
    was deleted, writes a base dir with no part file. None when the
    table has no dir at ``path`` (a missing ``codes/`` stays an error)
    or ``meta`` records no schema for it."""
    schema = _recorded_schema(meta, sub)
    if schema is None or not os.path.isdir(os.path.join(path, sub)):
        return None
    return spark.createDataFrame([], _seq_schema(spark, schema, ""))


def _mark_cols(marks: DataFrame | None, id_col: str) -> DataFrame | None:
    """Raw tombstone rows ``(_del_id, _del_seq)`` for ``_mask_deleted``,
    one per tombstone — NOT folded to one row per id: the anti-join
    drops a row iff SOME tombstone for its id is newer, the same
    predicate as comparing against the max, and without a ``groupBy``
    the mask costs no shuffle. None (no tombstones) stays None."""
    if marks is None:
        return None
    return marks.select(
        F.col(id_col).alias("_del_id"), F.col("_seq").alias("_del_seq")
    )


def _retained_root(path: str) -> str:
    return os.path.join(path, "_retained")


def _retained_dir(path: str, epoch: int) -> str:
    return os.path.join(_retained_root(path), f"{epoch:08d}")


def _retained_epochs(path: str) -> list[int]:
    """Fold epochs with a retained pre-fold version on disk, ascending.
    ``_retained/<F>`` holds the state fold F DISPLACED — epoch F-1's
    meta, its commit log (``batches/``), and every base cell dir the
    fold rewrote or a full rewrite replaced (``fold.json`` records
    which shape)."""
    root = _retained_root(path)
    if not os.path.isdir(root):
        return []
    return sorted(
        int(d) for d in os.listdir(root) if d.isdigit() and len(d) == 8
    )


def _fold_info(path: str, epoch: int) -> dict:
    """``fold.json`` of one retained fold: ``{"full": bool, "created":
    [cells the fold introduced with no predecessor]}``. A retained dir
    without it is an interrupted retention move — unreadable, loudly."""
    import json as _json

    fp = os.path.join(_retained_dir(path, epoch), "fold.json")
    try:
        with open(fp) as f:
            return _json.load(f)
    except OSError:
        raise RuntimeError(
            f"retained snapshot {epoch} at {path!r} has no fold.json — "
            "an interrupted fold's partial retention; vacuum it"
        ) from None


def _epoch_batch_dir(path: str, epoch: int, current: int) -> str:
    """The ``batches/`` directory holding epoch ``epoch``'s commit log:
    live for the current epoch, else inside the retained dir of the
    fold that CONSUMED it (fold ``epoch+1``)."""
    if epoch == current:
        return os.path.join(path, "batches")
    return os.path.join(_retained_dir(path, epoch + 1), "batches")


def _readable_epochs(path: str) -> list[int]:
    """Epochs ``load(as_of=(epoch, seq))`` can serve, ascending: the
    current epoch, plus every older epoch reachable through a CONTIGUOUS
    retained chain (reconstructing epoch e needs ``_retained/<f>`` for
    every fold f in (e, current] — a vacuumed gap ends the history)."""
    current = _layout_epoch(path)
    retained = set(_retained_epochs(path))
    out = [current]
    f = current
    while f in retained:
        out.append(f - 1)
        f -= 1
    return sorted(out)


def layout_snapshots(path: str) -> list[tuple[int, int]]:
    """Readable snapshot bounds for a saved serving layout, ascending:
    ``(fold_epoch, commit_seq)`` pairs — seq 0 is each epoch's base
    fold, and the pair form survives folds (seqs reset at every fold,
    epochs never do, so a remembered pair can never silently alias a
    different snapshot — ADVICE r16). The current epoch's pairs are
    always present; OLDER epochs appear when their pre-fold state is
    still retained (``_retained/<fold>`` — see ``vacuum_layout``). Any
    listed pair is a valid ``load(as_of=...)`` bound; the max pair is
    the tip. Pure driver-side directory listing — no Spark job. Raises
    on a path holding no layout (a typo would otherwise 'enumerate' a
    phantom base snapshot and only fail much later inside ``load``)."""
    current = _layout_epoch(path)
    pairs: list[tuple[int, int]] = []
    for e in _readable_epochs(path):
        bdir = _epoch_batch_dir(path, e, current)
        seqs = {0} | {
            _parse_seq(b)
            for b in _batch_names_checked(bdir, f"epoch {e} of {path!r}")
        }
        pairs.extend((e, s) for s in sorted(seqs))
    return sorted(pairs)


def _check_as_of(
    path: str, as_of: int | tuple[int, int] | None
) -> tuple[int, int] | None:
    """Normalize + validate a time-travel bound against the commit log
    → ``(epoch, seq)`` (or None for the tip). A bare int is shorthand
    for the CURRENT epoch (the pre-retention API, unchanged); the pair
    form is the stable identifier ``layout_snapshots`` returns — safe
    to remember across folds, because a stale epoch resolves through
    the retained pre-fold versions instead of silently aliasing a
    same-numbered seq of the new epoch (ADVICE r16), and raises loudly
    once vacuum has dropped its chain. Seq bounds BETWEEN committed
    seqs are legal (a logical point in time — the Delta/Iceberg
    timestamp-bound analogue); a seq outside the epoch's [0, tip] is a
    caller error."""
    if as_of is None:
        return None
    current = _layout_epoch(path)
    if isinstance(as_of, int):
        e, s = current, as_of
    else:
        e, s = int(as_of[0]), int(as_of[1])
    if e > current or e < 0:
        raise ValueError(
            f"as_of epoch {e} does not exist: this layout is at fold "
            f"epoch {current}"
        )
    readable = _readable_epochs(path)
    if e not in readable:
        raise ValueError(
            f"as_of epoch {e} is no longer readable: its retained "
            f"pre-fold chain was vacuumed (readable epochs: {readable}; "
            "see vacuum_layout's retention)"
        )
    bdir = _epoch_batch_dir(path, e, current)
    tip = max(
        (
            _parse_seq(b)
            for b in _batch_names_checked(bdir, f"epoch {e} of {path!r}")
        ),
        default=0,
    )
    if not 0 <= s <= tip:
        raise ValueError(
            f"as_of=(epoch {e}, seq {s}) is outside this layout's "
            f"epoch-{e} commit log [0, {tip}] — re-read "
            "layout_snapshots(path) for the readable bounds"
        )
    return (e, s)


def _snapshot_cell_sources(
    path: str, epoch: int
) -> dict[int, tuple[str, int]]:
    """Resolve epoch ``epoch``'s BASE cell set against the retained fold
    chain: for each centroid cell alive at that epoch, where its
    then-content lives NOW — ``("live", 0)`` for cells no later fold
    touched (still physically in the tip base — zero copies were ever
    made), or ``("ret", f)`` for the SMALLEST fold f > epoch that
    displaced it into ``_retained/<f>``. Pure driver-side walk over the
    fold metadata, newest→oldest: each fold's retained cells override
    later sources (they are the older content), a fold's ``created``
    cells drop out (they did not exist before it), and a ``full``
    rewrite resets the set to exactly its retained base. O(folds walked
    × cells) dict ops — no Spark job, no data reads."""
    current = _layout_epoch(path)

    def cells_in(root: str) -> set[int]:
        if not os.path.isdir(root):
            return set()
        return {
            int(d.split("=", 1)[1])
            for d in os.listdir(root)
            if d.startswith("centroid=")
        }

    sources: dict[int, tuple[str, int]] = {
        c: ("live", 0) for c in cells_in(os.path.join(path, "codes"))
    }
    for f in range(current, epoch, -1):
        info = _fold_info(path, f)
        ret_cells = cells_in(os.path.join(_retained_dir(path, f), "codes"))
        if info.get("full"):
            sources = {c: ("ret", f) for c in ret_cells}
            continue
        for c in info.get("created", []):
            sources.pop(int(c), None)
        for c in ret_cells:
            sources[c] = ("ret", f)
    return sources


def _has_parquet(root: str) -> bool:
    """Whether ``root`` holds a part file anywhere below it. A layout
    root without one (a legacy empty commit: just ``_SUCCESS``; a base
    every row of which was folded away) has no rows and no footer."""
    return any(
        f.endswith(".parquet") for _, _, files in os.walk(root) for f in files
    )


def _snapshot_roots(
    path: str, sub: str, current: int, as_of: tuple[int, int] | None = None
) -> list[tuple[int, str, list[int] | None]]:
    """The parquet roots one layout table (``codes``/``vectors``/
    ``deletes``) reads at a snapshot, as ``(commit seq, root, cells the
    root serves — None: all of it)`` — the one resolver for every read
    of a serving layout. ``current`` is the tip's fold epoch; ``as_of``
    a bound normalized by ``_check_as_of`` (None: the tip).

    Base cells: in the CURRENT epoch every cell is live, so the base
    root reads whole with no cell filter — whatever ``centroid=`` dirs
    it holds (an empty save holds none), and is skipped when it holds
    no parquet. An OLDER epoch resolves its cells against the retained
    fold chain (``_snapshot_cell_sources``): one root per source group
    (the live base, or the ``_retained/<f>`` dir that displaced them)
    under an ``isin`` of the group's cells, so the union width is the
    number of folds consulted, not the cell count. A resolved root with
    no parquet is an interrupted retention (raises) — or, for
    ``vectors``, an epoch saved without a float store (no roots).

    Commits: every root of the epoch's commit log (live, or the retained
    ``batches/`` the fold at ``epoch+1`` consumed) with seq <= the
    bound, skipping roots that hold no parquet. A bound only DROPS
    roots: the same mechanism as Delta/Iceberg ``VERSION AS OF`` — the
    commit log IS the snapshot structure. Pure metadata, no Spark job."""
    epoch, seq = (current, None) if as_of is None else as_of
    roots: list[tuple[int, str, list[int] | None]] = []
    if sub != "deletes":
        if epoch == current:
            base = os.path.join(path, sub)
            if _has_parquet(base):
                roots.append((0, base, None))
        else:
            groups: dict[tuple[str, int], list[int]] = {}
            for c, src in _snapshot_cell_sources(path, epoch).items():
                groups.setdefault(src, []).append(c)
            for (kind, f), cells in sorted(groups.items()):
                root = (
                    os.path.join(path, sub)
                    if kind == "live"
                    else os.path.join(_retained_dir(path, f), sub)
                )
                if not _has_parquet(root):
                    if sub == "vectors":
                        return []  # this epoch's layout had no float store
                    raise RuntimeError(
                        f"snapshot (epoch {epoch}) of {path!r}: resolved "
                        f"{sub} root {root!r} is missing — interrupted "
                        "retention; vacuum the broken fold"
                    )
                roots.append((0, root, sorted(cells)))
    bdir = _epoch_batch_dir(path, epoch, current)
    for b in _batch_names_checked(bdir, f"epoch {epoch} of {path!r}"):
        root = os.path.join(bdir, b, sub)
        if (seq is None or _parse_seq(b) <= seq) and _has_parquet(root):
            roots.append((_parse_seq(b), root, None))
    return roots


def _snapshot_table(
    spark: SparkSession,
    path: str,
    sub: str,
    meta: dict,
    current: int,
    as_of: tuple[int, int] | None = None,
) -> DataFrame | None:
    """One layout table as it stood at snapshot ``as_of`` (None: the
    tip): the ``_snapshot_roots`` unioned by name, each row carrying its
    commit ``_seq`` (base = 0) for the caller's strictly-older mask
    (``_mask_deleted``, which drops ``_seq``), or None when no root
    holds rows. Every root reads under ONE explicit schema — the one
    ``meta`` (the snapshot epoch's own ``meta.json``) records for the
    table, or, for a layout saved before schemas were recorded, the
    first root's footer, inferred once — so no root pays a footer job
    and every branch has one shape (``_read_seq_root``). Each root is
    read separately, so a ``centroid`` probe prunes every branch:
    ``centroid=N`` dirs on the base and the retained cells, row-group
    min/max on the centroid-sorted flat deltas (``_write_delta``)."""
    from functools import reduce

    roots = _snapshot_roots(path, sub, current, as_of)
    if not roots:
        return None
    with_seq = _seq_schema(spark, _recorded_schema(meta, sub), roots[0][1])
    parts = []
    for seq, root, cells in roots:
        df = _read_seq_root(spark, root, seq, with_seq)
        parts.append(df if cells is None else df.where(F.col("centroid").isin(cells)))
    return reduce(lambda a, b: a.unionByName(b), parts)


def vacuum_layout(path: str, keep_epochs: int = 2) -> dict:
    """Expire retained pre-fold versions — the storage-reclaim half of
    snapshot retention (Delta VACUUM / Iceberg expire_snapshots): keep
    the newest ``keep_epochs`` retained folds (i.e. the current epoch
    plus that many pre-fold snapshots stay readable), delete the rest.
    History is a contiguous chain (reconstructing epoch e needs every
    retained fold in (e, current]), so expiry always trims from the
    OLD end; a later ``load(as_of=(expired_epoch, s))`` raises loudly
    (``_check_as_of``) instead of serving a partial snapshot. Runs
    under the writer lease — a vacuum racing a fold could delete the
    version the fold is mid-publishing. Returns the removed and kept
    fold epochs."""
    import shutil

    if keep_epochs < 0:
        raise ValueError("keep_epochs must be >= 0")
    with _writer_lease(path, "vacuum_layout"):
        current = _layout_epoch(path)
        cut = current - keep_epochs
        removed = [f for f in _retained_epochs(path) if f <= cut]
        for f in removed:
            shutil.rmtree(_retained_dir(path, f), ignore_errors=True)
        return {"removed": removed, "kept": _retained_epochs(path)}


def verify_layout(path: str, spark: SparkSession | None = None) -> dict:
    """FSCK for a persisted serving layout — the read-only integrity
    audit an operator runs before trusting (or repairing) an index a
    crashed/raced writer may have left behind. Complements the loud
    in-line tripwires (duplicate-seq on every commit-log read, fold.json
    on every retained-chain resolve) with ONE verb that surfaces every
    violation at once instead of failing on the first:

    errors (layout serves wrong/no data until repaired):
      - missing/unparseable ``meta.json`` (interrupted save publish);
      - duplicate mutation seqs across commit dirs (a second writer —
        the corruption the ``_writer.lock`` lease exists to prevent);
      - a retained dir with no ``fold.json`` (interrupted retention
        move) or a retained epoch newer than the tip's.
    warnings (benign but worth reclaiming/watching):
      - orphaned ``_staging`` entries (crashed pre-commit writer —
        swept by the next mutation verb's ``_gc_staging``);
      - a stale ``_writer.lock`` (holder pid dead on this host, or
        older than the TTL backstop) — broken by the next acquirer;
      - seq gaps in the commit log (a writer that died after lease
        acquisition but before its commit rename; harmless — seqs
        order commits, they need not be dense);
      - a commit dir holding no parquet at all (legacy empty commit).

    Pure driver-side metadata walk — NO Spark job — so it is safe to run
    against a layout another process is actively serving (it takes no
    lease: a fold racing the walk can at worst produce a transient
    false positive, never corruption). Pass ``spark`` to ADD the deep
    data check: per-root codes↔vectors row-count parity (a commit whose
    co-located float store lost rows re-ranks incorrectly), and every
    root's footer schema against the schema ``meta.json`` records for
    its table — readers trust the recorded schema instead of inferring,
    so a root missing a recorded column or holding it under another type
    is an error.

    Returns ``{"ok": bool, "errors": [...], "warnings": [...],
    "info": {...}}``; ``ok`` means zero errors (warnings allowed).
    """
    import json as _json

    errors: list[str] = []
    warnings: list[str] = []
    info: dict = {"path": path}

    meta_path = os.path.join(path, "meta.json")
    try:
        with open(meta_path) as f:
            meta = _json.load(f)
        current = int(meta.get("fold_epoch", 0))
        info["fold_epoch"] = current
    except OSError:
        errors.append("missing meta.json — no committed layout (or an "
                      "interrupted save: old meta removed, new not yet "
                      "renamed in)")
        meta, current = {}, 0
    except ValueError:
        errors.append("meta.json is not valid JSON — torn publish")
        meta, current = {}, 0

    # commit log: duplicate seqs are an error (with the staging and
    # lease checks every tier shares); gaps only a warning
    bdir = os.path.join(path, "batches")
    names = sorted(os.listdir(bdir)) if os.path.isdir(bdir) else []
    _fsck(path, names, errors, warnings, info)
    seqs = [s for s in map(_parse_seq, names) if s >= 1]
    for b in names:
        if not _has_parquet(os.path.join(bdir, b)):
            warnings.append(f"commit dir {b!r} holds no parquet (legacy "
                            "empty commit) — skipped by reads")
    info["commits"] = len(names)
    missing = sorted(set(range(1, max(seqs, default=0) + 1)) - set(seqs))
    if missing:
        warnings.append(
            f"commit-log seq gaps {missing} — a writer died between "
            "seq allocation and its commit rename (harmless: seqs "
            "order commits, density is not required)"
        )

    # retention chain
    retained = _retained_epochs(path)
    info["retained_epochs"] = retained
    for e in retained:
        if e > current:
            errors.append(
                f"retained fold epoch {e} is newer than the tip epoch "
                f"{current} — meta.json regressed (torn publish?)"
            )
        if not os.path.exists(
            os.path.join(_retained_dir(path, e), "fold.json")
        ):
            errors.append(
                f"retained snapshot {e} has no fold.json — an "
                "interrupted fold's partial retention; vacuum it"
            )

    # deep check: per-root codes↔vectors row parity (only when both
    # stores exist for that root — vectors are optional per layout)
    if spark is not None and not errors:

        def count_rows(root: str) -> int | None:
            # a store dir holding zero parquet (every part file torn
            # out) cannot even infer a schema — that IS the finding
            if not _has_parquet(root):
                return None
            return spark.read.parquet(root).count()

        for seq, codes_root, _ in _snapshot_roots(path, "codes", current):
            vec_root = codes_root[: -len("codes")] + "vectors"
            if not os.path.isdir(vec_root):
                continue
            n_codes = count_rows(codes_root)
            n_vecs = count_rows(vec_root)
            if n_vecs is None:
                errors.append(
                    f"commit seq {seq}: co-located vectors dir holds no "
                    "parquet (torn float store) — re-rank through this "
                    "commit cannot serve"
                )
            elif n_codes != n_vecs:
                errors.append(
                    f"commit seq {seq}: codes has {n_codes} rows but "
                    f"co-located vectors has {n_vecs} — re-rank would "
                    "score a different row set than the code scan"
                )
        for sub in ("codes", "vectors", "deletes"):
            rec = _recorded_schema(meta, sub)
            if rec is None:
                continue  # layout saved before schemas were recorded
            for seq, root, _ in _snapshot_roots(path, sub, current):
                found = {
                    f.name: _as_nullable(f.dataType)
                    for f in spark.read.parquet(root).schema
                }
                for f in rec:
                    want = _as_nullable(f.dataType)
                    if f.name not in found:
                        errors.append(
                            f"{sub} root at seq {seq}: column {f.name!r} "
                            "recorded in meta.json is missing from its files"
                        )
                    elif found[f.name] != want:
                        errors.append(
                            f"{sub} root at seq {seq}: column {f.name!r} is "
                            f"{found[f.name].simpleString()} in its files but "
                            f"{want.simpleString()} in meta.json"
                        )
        info["deep_checked"] = True

    return {"ok": not errors, "errors": errors, "warnings": warnings,
            "info": info}


def maintenance_tick(
    idx_cls,
    spark: SparkSession,
    path: str,
    max_data_commits: int = 8,
    max_tombstone_commits: int = 4,
    keep_epochs: int | None = None,
) -> dict:
    """ONE maintenance-policy decision for a saved serving layout — the
    verb a background compactor loop runs per index per interval. Polls
    ``layout_mutation_stats`` (driver-side listing, no Spark job); if
    the accumulated mutation state crosses either threshold — data
    commits rivaling the base partition count (each is an extra union
    branch in every read plan) or tombstone commits growing the
    broadcast mask — it loads the layout TIP and runs ``save``-as-fold
    (the bounded O(touched-cells) compaction). Under both thresholds it
    does nothing: reads stay cheap and the tick costs one listdir.

    ``keep_epochs`` makes the compactor loop SELF-CONTAINED on storage:
    after a fold, retained pre-fold versions beyond the newest
    ``keep_epochs`` are vacuumed (``vacuum_layout``) in the same tick —
    the fold creates exactly one retained epoch per run, so without a
    budget a per-trigger compactor grows one version per trigger
    forever. ``None`` (default) retains everything: expiry stays a
    separate, explicit decision.

    Returns ``{"folded": bool, "before": stats, "after": stats}`` (plus
    ``"vacuum"`` when a budget was applied) so a scheduler can
    log/alert on it. The whole poll+fold runs under the writer lease
    (``_writer_lease``): this verb is explicitly the one a background
    compactor loop — a SECOND process beside the ingest writer — runs,
    so its single-writer posture must be enforced, not advisory (r16
    verdict #1); holding the lease across the stats poll also closes
    the poll→fold TOCTOU window."""
    with _writer_lease(path, "maintenance_tick"):
        before = layout_mutation_stats(path)
        folded = (
            before["data_commits"] > max_data_commits
            or before["tombstone_commits"] > max_tombstone_commits
        )
        if folded:
            idx_cls.load(spark, path).save(path)
        out = {
            "folded": folded,
            "before": before,
            # distinct dict on the declined path too — a scheduler that
            # annotates one must not silently corrupt the other
            "after": layout_mutation_stats(path) if folded else dict(before),
        }
        if folded and keep_epochs is not None:
            out["vacuum"] = vacuum_layout(path, keep_epochs=keep_epochs)
        return out


def rebuild_layout(idx_cls, spark: SparkSession, path: str, **build_kwargs):
    """DRIFT remediation — the maintenance escalation past folding: a
    fold (``save``/``maintenance_tick``) compacts the commit log but
    keeps the quantizers the index was BUILT with; after enough
    upserts the corpus walks away from them (SQ8 clamp rates rise,
    k-means cells unbalance, PQ residual distortion grows — the drift
    signals every ``add_batch`` docstring says to watch). This verb
    re-trains everything from the CURRENT visible corpus: load the tip,
    pin the visible float store once (one eager checkpoint — the build
    reads it several times: quantizer fit, scaler train, assign,
    encode), run the class's own ``build`` on it, and atomically
    replace the layout via the house staged commit (old meta removed
    first, new meta renames last — an interruption leaves the layout
    loudly unreadable, never new codes under a stale scaler).

    Requires a co-located float store (codes alone cannot re-train —
    same rule as exact re-rank). Cost is a full rebuild by definition —
    O(corpus) train+encode+write, the same bill as the original build —
    so the caller runs it on the drift signal, not on a timer.
    Visibility is untouched: the rebuilt layout holds exactly the rows
    the tip served (tombstones fold away physically in the process).
    Runs under the writer lease end-to-end — the tip it loads must not
    advance under the retrain, or the swap would silently drop the
    concurrent commits (r16 verdict #1)."""
    with _writer_lease(path, "rebuild_layout"):
        tip = idx_cls.load(spark, path)
        if tip.vectors is None:
            raise ValueError(
                "rebuild_layout requires a co-located float store "
                "(save(store_vectors=True)); codes cannot re-train a "
                "quantizer"
            )
        # geometry defaults come from the LAYOUT, not build()'s
        # signature: an index built with 64 cells rebuilt bare must get
        # 64 cells back, not the signature default — a silently shrunken
        # quantizer degrades recall with no error. Caller kwargs still
        # override (intentional re-shaping is the other use of this
        # verb).
        kw = {**tip._rebuild_defaults(), **build_kwargs}
        vecs = tip.vectors.select(tip.id_col, tip.vec_col).localCheckpoint(
            eager=True
        )
        fresh = idx_cls.build(
            vecs, id_col=tip.id_col, vec_col=tip.vec_col, **kw
        )
        return fresh.save(path, store_vectors=True)


def _write_deletes(idx, ids: DataFrame, stage: str, seq: int) -> None:
    """A commit's tombstone table: the ids, cast to the index's id type
    (so every ``deletes`` root matches the recorded schema even when the
    caller's id frame is int-typed), stamped with the commit seq, one
    small file (the set is broadcast on every read until folded)."""
    ids.select(
        F.col(idx.id_col).cast(idx.codes.schema[idx.id_col].dataType),
        F.lit(seq).cast("long").alias("_seq"),
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(stage, "deletes"))


def _write_delta(df: DataFrame, root: str) -> None:
    """One delta commit table: a file per pinned-batch partition (one
    file at the upsert sizes the serving tier sees), each sorted by
    ``centroid``, which stays a data column — no shuffle and no
    ``centroid=N`` dirs. A reader's ``centroid IN (...)`` probe pushes
    into the scan and skips row groups by their min/max; only the base
    layout and the fold are laid out by cell (the Delta/Iceberg shape:
    small delta files, compaction clusters). Layouts whose deltas were
    written partitioned read through the same recorded schema."""
    df.sortWithinPartitions("centroid").write.mode("overwrite").parquet(root)


def _fold_touched(idx, path: str, store_vectors: bool) -> None:
    """BOUNDED compaction (``save``-as-fold, round-16): rewrite ONLY the
    centroid partitions touched by the accumulated mutation commits and
    leave every other partition dir of the base layout physically in
    place — O(touched cells), not O(corpus). The r15 fold rewrote the
    entire base layout (measured 74.6 s / ~7.5 GB at 1M×1536) even when
    the batches touched two cells; at 100 TB that is the difference
    between a seconds-scale maintenance tick and an hours-scale rewrite.
    Same pattern as the bounded bucket rewrite in ``VectorIndex.delete``
    (index.py:282-303).

    Touched set = (a) every ``centroid`` value in any committed
    ``batches/<seq>_<uuid>/codes`` root (a column of the flat delta
    files; a partition column of deltas written partitioned) ∪ (b) every
    base partition holding a tombstoned id — a column-pruned scan of
    base ``(id, centroid)`` semi-joined against the broadcast tombstone
    set (a superset of the strictly-older mask is fine: it only widens
    the rewrite, never the visible rows). Both sides are one
    ``distinct().collect()``.

    Eligibility is the caller's job: ``idx`` must MIRROR the committed
    layout at ``path`` (``_mirror_path``) — the fold reads committed
    state from disk, so any in-memory-only mutation would be silently
    lost otherwise — and the resolved ``store_vectors`` must match the
    on-disk layout (changing the float-store shape is a full rewrite).

    CRASH CONTRACT: identical to the full ``save`` — the old
    ``meta.json`` is removed FIRST, so an interruption anywhere inside
    the partition swaps leaves the layout loudly unreadable (``load``
    raises, pointing at the builder), never a readable state where some
    cells folded and others still count on masked batch dirs.

    Eligibility (mirror + matching float-store shape) is checked by the
    CALLER before invoking; once called, the fold always completes (the
    no-commit case is a free no-op) — there is deliberately NO
    defer-to-full-rewrite return path, because by the time this function
    is destructive the old meta is gone and a fallback rewrite over a
    half-folded layout would be exactly the silent corruption the loud
    crash order exists to prevent (review finding)."""
    import json as _json
    import shutil
    import uuid

    spark = idx.codes.sparkSession
    bdir = os.path.join(path, "batches")
    commits = _committed_batches(path)
    if not commits:
        # mirror of a fully-folded layout: the committed state IS the
        # object's state — rewriting it would be a pure no-op at full
        # corpus cost
        return

    # touched cells, in ONE job: (a) the centroid column of every data
    # commit's codes ∪ (b) base cells holding a tombstoned id — a pruned
    # scan of base (id, centroid) semi-joined to the broadcast marks.
    # Codes bytes and floats never load. Every read of the layout uses
    # the schemas the tip's meta.json records.
    from functools import reduce

    code_col = idx._code_col
    old_meta = _layout_meta(path)
    current = int(old_meta.get("fold_epoch", 0))
    rec_codes = _recorded_schema(old_meta, "codes")
    cells = [
        _read_table(spark, root, rec_codes).select("centroid")
        for seq, root, _ in _snapshot_roots(path, "codes", current)
        if seq > 0
    ]
    marks = _mark_cols(
        _snapshot_table(spark, path, "deletes", old_meta, current), idx.id_col
    )
    base_codes = os.path.join(path, "codes")
    if marks is not None and os.path.isdir(base_codes):
        cells.append(
            _read_table(spark, base_codes, rec_codes)
            .select(idx.id_col, "centroid")
            .join(
                F.broadcast(marks.select(F.col("_del_id").alias(idx.id_col))),
                idx.id_col,
                "left_semi",
            )
            .select("centroid")
        )
    touched: set[int] = set()
    if cells:
        hit = reduce(lambda a, b: a.unionByName(b), cells).distinct().collect()
        touched.update(int(r["centroid"]) for r in hit)

    new_epoch = current + 1
    stage = os.path.join(path, "_staging", uuid.uuid4().hex)
    subs = ["codes"] + (["vectors"] if store_vectors else [])
    try:
        if touched:
            vals = sorted(touched)
            folded = _mask_deleted(
                _snapshot_table(spark, path, "codes", old_meta, current).where(
                    F.col("centroid").isin(vals)
                ),
                marks,
                idx.id_col,
            )
            writes = [
                lambda: _cluster_for_write(
                    folded.select(idx.id_col, code_col, "centroid")
                )
                .write.partitionBy("centroid")
                .mode("overwrite")
                .parquet(os.path.join(stage, "codes"))
            ]
            if store_vectors:
                fv = _mask_deleted(
                    _snapshot_table(
                        spark, path, "vectors", old_meta, current
                    ).where(F.col("centroid").isin(vals)),
                    marks,
                    idx.id_col,
                )
                writes.append(
                    lambda: _cluster_for_write(
                        fv.select(idx.id_col, idx.vec_col, "centroid")
                    )
                    .write.partitionBy("centroid")
                    .mode("overwrite")
                    .parquet(os.path.join(stage, "vectors"))
                )
            _run_writes(writes)
        meta = idx._meta_dict()
        meta["fold_epoch"] = new_epoch
        meta["schemas"] = _layout_schemas(idx, code_col, store_vectors)
        with open(os.path.join(stage, "meta.json"), "w") as f:
            _json.dump(meta, f)
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    # staging materialized — commit: loud window opens here. The fold
    # RETAINS everything it displaces (r16 verdict #2): the pre-fold
    # meta, the consumed commit log, and every base cell it rewrites
    # move (rename — O(touched) metadata ops, no data copy) into
    # `_retained/<new_epoch>/`, so `load(as_of=(old_epoch, seq))`
    # survives the fold. `vacuum_layout` expires retained versions.
    ret = _retained_dir(path, new_epoch)
    os.makedirs(ret, exist_ok=True)
    created: list[int] = []
    meta_path = os.path.join(path, "meta.json")
    os.rename(meta_path, os.path.join(ret, "meta.json"))
    for sub in subs:
        dst_root = os.path.join(path, sub)
        ret_root = os.path.join(ret, sub)
        os.makedirs(dst_root, exist_ok=True)
        os.makedirs(ret_root, exist_ok=True)
        for cell in sorted(touched):
            dst = os.path.join(dst_root, f"centroid={cell}")
            src = os.path.join(stage, sub, f"centroid={cell}")
            if os.path.isdir(dst):
                # old cell out — retained, not destroyed (it may have no
                # successor: a fully-tombstoned cell folds to absent)
                os.rename(dst, os.path.join(ret_root, f"centroid={cell}"))
            elif sub == "codes" and os.path.isdir(src):
                created.append(cell)  # no predecessor: this fold
                # introduced the cell — pre-fold snapshots exclude it
            if os.path.isdir(src):
                os.rename(src, dst)
    os.rename(bdir, os.path.join(ret, "batches"))
    with open(os.path.join(ret, "fold.json"), "w") as f:
        _json.dump({"full": False, "created": sorted(created)}, f)
    os.rename(os.path.join(stage, "meta.json"), meta_path)  # loud window closes
    shutil.rmtree(stage, ignore_errors=True)
    _repoint(idx, spark, path, meta, store_vectors)


def _repoint(idx, spark: SparkSession, path: str, meta: dict, store_vectors: bool):
    """Point ``idx``'s lazy plans at the base layout just published with
    ``meta``, read under its recorded schemas (no inference job)."""
    idx.codes = _read_table(
        spark, os.path.join(path, "codes"), _recorded_schema(meta, "codes")
    )
    idx.vectors = (
        _read_table(
            spark, os.path.join(path, "vectors"), _recorded_schema(meta, "vectors")
        )
        if store_vectors
        else None
    )
    idx._mirror_path = path


def apply_cdc_events(
    idx,
    events: DataFrame,
    path: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> int:
    """ORDER-PRESERVING CDC application — the reusable verb ADVICE r15
    asked for when the per-trigger pattern graduates from the harness:
    a change feed where ONE microbatch can carry delete+upsert for the
    SAME id resolves by the feed's per-event sequence column, not by a
    fixed deletes-before-upserts convention.

    ``events`` is one CDC microbatch: ``(id, vector?, op in ('u','d'),
    seq)``. Events sort by ``seq`` and split into maximal same-op RUNS;
    each run commits through the index's own atomic verbs in run order
    (``delete`` for a 'd' run, ``upsert`` for a 'u' run). Layout commit
    seqs are assigned monotonically per commit, so the strictly-older
    tombstone mask reproduces exactly the feed's per-id last-writer-wins
    — an upsert after a delete of the same id survives, a delete after
    an upsert removes it, regardless of the input DataFrame's row order.

    Scale shape: the run split is one bounded global window over the
    MICROBATCH (thousands of rows by CDC contract — same documented
    bounded-window class as the positional-id reader), and the plan
    collect is one row per RUN (op alternations are rare in real feeds).
    The runs frame pins once (``localCheckpoint``) because each run
    filters it again — a nondeterministic feed plan could otherwise
    commit different rows than it planned. Returns the number of
    commits made."""
    from pyspark.sql import Window

    cols = [c for c in events.columns]
    if seq_col not in cols or op_col not in cols:
        raise ValueError(f"events must carry {seq_col!r} and {op_col!r}")
    w = Window.orderBy(F.col(seq_col).asc())
    runs = events.withColumn(
        "_chg",
        F.when(
            F.lag(op_col).over(w).isNull()
            | (F.lag(op_col).over(w) != F.col(op_col)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "_run",
        F.sum("_chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # ONE eager pin: the per-run filters, the plan collect, and the
    # within-run dedup below all re-read `runs` — this single checkpoint
    # snapshots a nondeterministic feed once (the previous extra
    # checkpoint of `events` itself materialized every microbatch twice
    # for no added determinism; review finding). Emptiness is decided
    # from the SAME pinned frame below (empty plan → 0 commits): a
    # pre-checkpoint isEmpty() on a nondeterministic feed could read
    # empty while the later pin reads rows, silently dropping the
    # microbatch (ADVICE r16).
    runs = runs.localCheckpoint(eager=True)
    plan = [
        (r["_run"], r[op_col])
        for r in runs.select("_run", op_col).distinct().orderBy("_run").collect()
    ]
    # validate the WHOLE plan before committing anything: a bad op
    # discovered mid-loop would leave the microbatch half-applied, and
    # a streaming retry would then re-commit the early runs at NEWER
    # layout seqs than the later runs of attempt one — feed order lost
    # (review finding). Fail before the first commit instead.
    bad = [op for _, op in plan if op not in ("u", "d")]
    if bad:
        raise ValueError(
            f"unknown CDC op(s) {sorted(set(bad))!r} (expected 'u' or 'd'); "
            "no run of this microbatch was committed"
        )
    # within one same-op run, the feed can carry several events for one
    # id; they share ONE layout commit, so the engine's strictly-older
    # mask cannot order them — the run itself must resolve to the
    # MAX-seq event per id or upsert's dropDuplicates would keep an
    # arbitrary row (review finding)
    rw = Window.partitionBy(idx.id_col).orderBy(F.col(seq_col).desc())
    # ONE lease across the whole microbatch (inner delete/upsert holds
    # re-enter): a concurrent writer interleaving between two runs
    # would break the feed's commit-order guarantee even though each
    # run alone commits atomically
    with _writer_lease(path, "apply_cdc_events"):
        for run_id, op in plan:
            batch = (
                runs.where(F.col("_run") == run_id)
                .withColumn("_rn", F.row_number().over(rw))
                .where(F.col("_rn") == 1)
            )
            if op == "d":
                idx.delete(batch.select(idx.id_col), path=path)
            else:
                idx.upsert(batch.select(idx.id_col, idx.vec_col), path=path)
    return len(plan)


def layout_mutation_stats(path: str) -> dict:
    """Maintenance telemetry for a saved serving layout (IvfSq8Index /
    IvfPqIndex): how much mutation state has accumulated since the last
    fold — the numbers that decide when to run ``save`` (fold). Pure
    driver-side directory listing, no Spark job: a maintenance loop can
    poll it every trigger. Returns ``batch_commits`` (total committed
    mutation dirs), ``data_commits`` (those carrying codes),
    ``tombstone_commits`` (those carrying deletes — each one is a
    broadcast-mask entry on every read until folded), ``max_seq`` (the
    last committed mutation sequence), and ``staging_orphans`` (crashed
    writers' leftovers, swept by the next commit). Rule of thumb: fold
    when tombstone_commits grows past a handful or batch_commits starts
    rivaling the base partition count — both numbers reset to 0 at
    ``save``."""
    bdir = os.path.join(path, "batches")
    commits = _committed_batches(path)
    data = sum(
        1 for b in commits if os.path.isdir(os.path.join(bdir, b, "codes"))
    )
    tomb = sum(
        1 for b in commits if os.path.isdir(os.path.join(bdir, b, "deletes"))
    )
    sdir = os.path.join(path, "_staging")
    return {
        "batch_commits": len(commits),
        "data_commits": data,
        "tombstone_commits": tomb,
        "max_seq": max((_parse_seq(b) for b in commits), default=0),
        "staging_orphans": len(os.listdir(sdir)) if os.path.isdir(sdir) else 0,
    }


def _mask_deleted(df: DataFrame | None, marks: DataFrame | None, id_col: str):
    """Apply delete tombstones to a seq-carrying layout union: a row is
    visible iff NO tombstone for its id was committed strictly AFTER the
    row was written (``row._seq < some tombstone's seq`` ⇒ masked — the
    raw tombstone rows, no per-id max). The tombstone set is the ids
    explicitly deleted/replaced since the last fold — small by
    maintenance contract — so the mask is a broadcast hash anti-join
    (equi key = id, the seq comparison rides along as the join
    condition): no shuffle, and the centroid partition pruning on every
    union branch below it is untouched. The anti-join is pushed into
    every branch; since every branch has one shape (``_read_seq_root``),
    their build sides are identical and AQE runs ONE broadcast for all
    of them. ``save`` folds tombstones away physically, so the mask never
    grows without bound."""
    if df is None:
        return None
    if marks is None:
        return df.drop("_seq")
    cond = (F.col(id_col) == F.col("_del_id")) & (
        F.col("_seq") < F.col("_del_seq")
    )
    return df.join(F.broadcast(marks), cond, "left_anti").drop("_seq")


class _PersistedIvfIndex:
    """What the two persisted serving tiers (``IvfSq8Index``,
    ``IvfPqIndex``) share: the layout, its commit log, its one snapshot
    reader (``_snapshot_table``), and the verbs written over them —
    ``load``, ``save`` (the fold), ``add_batch``/``upsert``/``delete``,
    the filtered-codes and co-located re-rank frames — so a commit-
    protocol or read-path fix lands once for both tiers. A subclass owns
    its quantizer state, probe/search math, ``build``, ``_meta_dict``
    and ``_rebuild_defaults``, and supplies:

    - ``_code_col``: the codes column its layout persists;
    - ``_frozen``: what its codes are scored with (``load``'s error);
    - ``_from_meta(meta, codes, vectors)``: its constructor call;
    - ``_encode(batch)``: its frozen-quantizer ingest derivation."""

    _code_col: str
    _frozen: str

    def __init__(
        self,
        codes: DataFrame,
        centroids,
        id_col: str,
        vec_col: str,
        vectors: DataFrame | None,
    ):
        self.codes = codes  # (id_col, _code_col, centroid)
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.id_col = id_col
        self.vec_col = vec_col
        # optional CO-LOCATED float store (id, vec, centroid), persisted
        # partitionBy(centroid) next to the codes: the re-rank shortlist
        # is a subset of the probed cells by construction, so pruning the
        # float side to the same cells is lossless — re-rank reads
        # nprobe/k of the float bytes instead of scanning the whole float
        # table (measured: BASELINE.md r13, flat ~9 s vs colocated
        # sub-second at 1M×1536). FAISS keeps raw vectors inside the IVF
        # lists for exactly this refine step.
        self.vectors = vectors
        # set by load(); kept by mutations committed to the same path;
        # cleared by in-memory-only mutations. When it names `path`,
        # save(path) may fold boundedly from committed state alone.
        self._mirror_path: str | None = None
        # the (epoch, seq) bound of a time-travel load; None at the tip
        self._as_of: tuple[int, int] | None = None

    def _require_writable(self, verb: str) -> None:
        """Mutation guard for TIME-TRAVEL handles: an index opened with
        ``load(as_of=N)`` is a read-only snapshot. Writing through it
        would be worse than confusing — ``save`` folds ``self.codes``
        (the snapshot's masked view) into the base layout and deletes
        every batch dir, silently DESTROYING all commits newer than the
        snapshot; ``upsert``/``delete`` would stamp tombstones computed
        against a stale view. Every mutating entry point calls this
        first."""
        if self._as_of is not None:
            raise RuntimeError(
                f"{verb}: this index is a read-only as_of={self._as_of} "
                "snapshot (time-travel load); re-load the layout tip "
                "(load(path) with no as_of) to mutate it"
            )

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        as_of: int | tuple[int, int] | None = None,
    ):
        """Open the committed layout — the TIP by default, or (with
        ``as_of``) a READ-ONLY snapshot. The bound is either a bare
        commit seq (CURRENT-epoch shorthand) or the stable
        ``(fold_epoch, seq)`` pair ``layout_snapshots(path)`` returns —
        the pair form survives folds: seqs reset at every fold but
        epochs never do, and an older epoch resolves through the
        retained pre-fold versions (``vacuum_layout`` expires them;
        ADVICE r16 / r16 verdict #2). Snapshot semantics follow the
        epoch's commit log exactly: batch dirs with seq > bound are
        never opened, tombstones fold only over commits <= bound, the
        strictly-older mask applies within it, and the snapshot scores
        with ITS epoch's frozen quantizer/scaler — an older epoch reads
        its OWN ``meta.json`` from the retained dir, since a rebuild
        retrains them. Snapshot handles refuse every mutating verb
        (``_require_writable``); current-epoch bound cost over a tip
        load is zero (the bound only DROPS union branches and mask
        entries). Every shape reads through one reader
        (``_snapshot_table``); building the frames runs no Spark job
        when the layout records its schemas (``_layout_schemas``)."""
        import json as _json

        meta_path = os.path.join(path, "meta.json")
        if not os.path.exists(meta_path):
            if os.path.isdir(os.path.join(path, "codes")):
                raise RuntimeError(
                    f"{cls.__name__} at {path!r} has codes but no meta.json — "
                    "an interrupted save; re-save from the builder (codes "
                    f"without their {cls._frozen} must never be scored)"
                )
            raise FileNotFoundError(meta_path)
        with open(meta_path) as f:
            meta = _json.load(f)
        norm = _check_as_of(path, as_of)
        current = int(meta.get("fold_epoch", 0))
        if norm is not None and norm[0] < current:
            meta = _layout_meta(_retained_dir(path, norm[0] + 1))
        codes, marks, vecs = (
            _snapshot_table(spark, path, sub, meta, current, norm)
            for sub in ("codes", "deletes", "vectors")
        )
        if codes is None:
            codes = _empty_table(spark, path, "codes", meta)
        if vecs is None:
            vecs = _empty_table(spark, path, "vectors", meta)
        if codes is None:
            raise RuntimeError(f"{cls.__name__} at {path!r} has meta.json but no codes")
        id_col = meta["id_col"]
        marks = _mark_cols(marks, id_col)
        idx = cls._from_meta(
            meta,
            _mask_deleted(codes, marks, id_col),
            _mask_deleted(vecs, marks, id_col),
        )
        idx._as_of = norm
        # plans == committed state, by construction — but only the TIP
        # may fold (a snapshot's fold would destroy newer commits)
        idx._mirror_path = path if norm is None else None
        return idx

    def save(self, path: str, store_vectors: bool | None = None):
        """Codes ``partitionBy(centroid)`` + one meta json (the frozen
        quantizer state ``_meta_dict`` names, column names, the fold
        epoch and the recorded table schemas). ``store_vectors=True``
        additionally persists the CO-LOCATED float store (``vectors/``,
        same partitioning) so a loaded index re-ranks against nprobe/k
        of the float bytes with no external table — the FAISS
        keep-raw-in-list refine layout. Leave it off when the floats
        live in a source table that supports its own pruning (then pass
        ``vectors_df`` to ``search``); a flat external float table costs
        a full float-column scan per re-rank (measured, BASELINE.md
        r13). The default ``None`` PRESERVES the existing layout:
        re-saving (compacting) a path whose layout carries a float store
        keeps it, a fresh save stays codes-only — so the compaction verb
        can never silently destroy the float store (``False`` still
        drops it explicitly).

        CRASH SAFETY (ADVICE r13): everything is staged under
        ``_staging/<uuid>`` first (codes, vectors, meta.json), then
        committed in an order with no silently-wrong window: the OLD
        ``meta.json`` is removed FIRST (an interrupted save leaves the
        index loudly unreadable — ``load`` raises — never new codes
        scored with a stale scaler), the staged layouts rename in, and
        the new meta.json renames into place LAST as the atomic publish.
        Saving also folds any ``batches/<uuid>`` appends into the base
        layout (``self.codes`` already carries them after ``load`` +
        ``add_batch``), so ``save`` doubles as the compaction verb. A
        rewrite over a consistent prior layout is a fold: the fold epoch
        bumps and the prior layout is RETAINED whole under
        ``_retained/<epoch>`` (``fold.json`` ``full: true``), so
        pre-rewrite snapshots stay readable. The whole save holds the
        writer lease (it rewrites state every other verb's seq
        allocation depends on).

        BOUNDED FOLD (round 16): when this object MIRRORS the committed
        layout at ``path`` (loaded from it, every mutation since
        committed back to it — ``_mirror_path``) and the float-store
        shape is unchanged, the fold rewrites ONLY the centroid
        partitions the accumulated commits touched and leaves every
        other partition dir physically in place — O(touched cells)
        maintenance instead of the r15 O(corpus) full rewrite (74.6 s /
        ~7.5 GB at 1M×1536 for a 2-cell mutation). See
        ``_fold_touched``. Any in-memory-only mutation, foreign path, or
        explicit float-store change still takes the full rewrite."""
        import json as _json
        import shutil
        import uuid

        self._require_writable("save")
        with _writer_lease(path, "save"):
            _gc_staging(path)
            bdir = os.path.join(path, "batches")
            disk_has_vectors = os.path.isdir(os.path.join(path, "vectors")) or any(
                os.path.isdir(os.path.join(bdir, b, "vectors"))
                for b in (os.listdir(bdir) if os.path.isdir(bdir) else [])
            )
            if store_vectors is None:
                # preserve the on-disk layout: a vectors store in the base
                # dir or in any committed batch dir means the index is
                # serving co-located re-ranks — keep that working
                store_vectors = disk_has_vectors
            if self._mirror_path == path and store_vectors == disk_has_vectors:
                _fold_touched(self, path, store_vectors)
                return self
            # epoch bookkeeping: a rewrite OVER a consistent prior layout
            # is a fold (epoch bumps, prior state retained — r16 verdict
            # #2 / ADVICE r16); a fresh save starts at epoch 0. A path
            # holding retained history but an interrupted tip (meta gone
            # mid-save) resumes numbering past the retained max so epochs
            # stay monotonic.
            meta_path = os.path.join(path, "meta.json")
            prior = os.path.exists(meta_path)
            retained_max = max(_retained_epochs(path), default=-1)
            if prior:
                new_epoch = max(_layout_epoch(path), retained_max) + 1
            else:
                new_epoch = retained_max + 1 if retained_max >= 0 else 0
            stage = os.path.join(path, "_staging", uuid.uuid4().hex)
            try:
                if store_vectors and self.vectors is None:
                    raise ValueError(
                        "store_vectors=True but this index carries no vectors"
                    )
                writes = [
                    lambda: _cluster_for_write(
                        self.codes.select(self.id_col, self._code_col, "centroid")
                    )
                    .write.partitionBy("centroid")
                    .mode("overwrite")
                    .parquet(os.path.join(stage, "codes"))
                ]
                if store_vectors:
                    writes.append(
                        lambda: _cluster_for_write(
                            self.vectors.select(self.id_col, self.vec_col, "centroid")
                        )
                        .write.partitionBy("centroid")
                        .mode("overwrite")
                        .parquet(os.path.join(stage, "vectors"))
                    )
                _run_writes(writes)
                meta = self._meta_dict()
                meta["fold_epoch"] = new_epoch
                meta["schemas"] = _layout_schemas(self, self._code_col, store_vectors)
                with open(os.path.join(stage, "meta.json"), "w") as f:
                    _json.dump(meta, f)
            except BaseException:
                shutil.rmtree(stage, ignore_errors=True)
                raise
            # staging fully materialized — now the commit sequence.
            # Unreadable (loud) between the meta removal and the final
            # rename; never a readable state whose meta mismatches the
            # codes beside it. A CONSISTENT prior layout is RETAINED whole
            # (meta + codes + vectors + commit log rename into
            # `_retained/<new_epoch>/`, `full: true` — pre-rewrite
            # snapshots stay readable); an interrupted prior (no meta) is
            # garbage and is deleted as before.
            ret = _retained_dir(path, new_epoch) if prior else None
            if ret is not None:
                os.makedirs(ret, exist_ok=True)
                os.rename(meta_path, os.path.join(ret, "meta.json"))
            for sub in ("codes", "vectors", "batches"):
                old = os.path.join(path, sub)
                if os.path.exists(old):
                    if ret is not None:
                        os.rename(old, os.path.join(ret, sub))
                    else:
                        shutil.rmtree(old)
            if ret is not None:
                with open(os.path.join(ret, "fold.json"), "w") as f:
                    _json.dump({"full": True, "created": []}, f)
            os.rename(os.path.join(stage, "codes"), os.path.join(path, "codes"))
            if store_vectors:
                os.rename(
                    os.path.join(stage, "vectors"), os.path.join(path, "vectors")
                )
            os.rename(os.path.join(stage, "meta.json"), meta_path)
            shutil.rmtree(stage, ignore_errors=True)
            # re-point the lazy plans at the committed layout: an index
            # loaded from THIS path had plans over the just-replaced dirs
            # (a re-save without store_vectors on such an index drops its
            # float store — any later co-located re-rank fails loudly on
            # the missing dir, never reads stale floats — ADVICE r14)
            _repoint(self, self.codes.sparkSession, path, meta, store_vectors)
            return self

    def _allowed_codes(self, allowed: DataFrame | None) -> DataFrame:
        """Metadata-filtered serving (the reference API's query filter —
        Pinecone restricts a query to ids matching a metadata
        predicate): the caller evaluates the predicate on its metadata
        table (that filter pushes down to the metadata parquet scan) and
        passes the resulting id set; the codes scan takes ONE broadcast
        semi-join on id ABOVE the partition filter — pruning is
        untouched, nothing shuffles, and the ADC shortlist is then
        all-allowed by construction, so ``k`` results are guaranteed to
        satisfy the filter (PRE-filter semantics — no overfetch
        heuristics). This is the selective-filter plan; for a permissive
        filter that keeps most rows, skip ``allowed`` and filter the
        RESULT of a larger-``k`` search instead (post-filter) — the
        broadcast id set is the thing that must stay small."""
        if allowed is None:
            return self.codes
        return self.codes.join(
            F.broadcast(allowed.select(self.id_col)), self.id_col, "left_semi"
        )

    def _rerank_side(self, vectors_df: DataFrame | None, cells: list[int]) -> DataFrame:
        """Float frame for the exact re-rank. With a co-located store and
        no explicit ``vectors_df``, prune it to the probed cells — the
        shortlist is a subset of those cells by construction, so this is
        lossless and reads nprobe/k of the float bytes."""
        if vectors_df is not None:
            return vectors_df
        if self.vectors is None:
            raise ValueError(
                "no vectors_df given and the index carries no co-located "
                "float store (save with store_vectors=True, or pass the "
                "source table)"
            )
        return self.vectors.where(F.col("centroid").isin(cells)).select(
            self.id_col, self.vec_col
        )

    def add_batch(
        self, batch: DataFrame, path: str | None = None, replace: bool = False
    ):
        """Frozen-quantizer ingest: encode the batch map-only against the
        frozen quantizer (``_encode`` — each tier's drift signal is
        documented there; rebuild with ``rebuild_layout`` when it
        degrades) and append it to the in-memory union and — with
        ``path`` — to the saved layout.

        ``replace=True`` is the UPSERT verb (the reference's core write,
        upsert.go:16 — Pinecone replace-by-id): the same commit also
        tombstones the batch's ids at this commit's seq, masking any
        OLDER row with the same id while the rows written here (same
        seq, and the mask is strictly-older-only) stay visible. The
        replace path dedupes by id FIRST: two same-id rows in one upsert
        would share a commit seq and both survive the strictly-older
        mask forever — replace semantics admit exactly one winner per id
        per commit.

        The INPUT is pinned once: codes, co-located floats, tombstones
        and the in-memory unions are separate Spark jobs over ``batch``,
        so a nondeterministic batch (df.sample, a limit, a source dir
        changing between jobs) could otherwise commit codes whose floats
        row never materialized inside the same "atomic" dir.

        CRASH SAFETY (ADVICE r13): the on-disk append stages the batch's
        codes AND (when the saved index carries a float store) its
        co-located vectors AND (replace) its tombstones under ONE
        ``_staging/<uuid>`` dir and commits with a SINGLE ``os.rename``
        into ``batches/<seq>_<uuid>`` — the two previous independent
        ``mode('append')`` writes had a window where new codes landed
        without their floats, and the exact re-rank's inner join would
        then silently DROP those ids from results. One rename = codes,
        floats, and delete marks visible together or not at all (an
        upsert can never be observed as its delete half alone).
        ``save`` folds accumulated batch dirs back into the base
        layout (compaction), applying tombstones physically."""
        self._require_writable("add_batch")
        id_col, code_col = self.id_col, self._code_col
        if replace:
            batch = batch.dropDuplicates([id_col])
        batch = batch.select(id_col, self.vec_col).localCheckpoint(eager=True)
        if batch.isEmpty():
            # nothing to ingest — an empty commit would only add a root
            # every later read lists and opens for no rows. Decided on the
            # PINNED batch: the encode is a map-only 1:1 derivation, so its
            # output is empty iff the batch is, and checking it would pay an
            # extra encode job per commit.
            return self
        enc, vecs = self._encode(batch)
        if path is not None:

            def write(stage: str, seq: int) -> None:
                stamp = F.lit(seq).cast("long")
                writes = [
                    lambda: _write_delta(
                        enc.select(id_col, code_col, "centroid").withColumn(
                            "_seq", stamp
                        ),
                        os.path.join(stage, "codes"),
                    )
                ]
                if os.path.isdir(os.path.join(path, "vectors")):
                    writes.append(
                        lambda: _write_delta(
                            vecs.withColumn("_seq", stamp),
                            os.path.join(stage, "vectors"),
                        )
                    )
                if replace:
                    writes.append(
                        lambda: _write_deletes(
                            self, batch.select(id_col), stage, seq
                        )
                    )
                _run_writes(writes)

            _commit(path, "add_batch", write, lambda: _committed_batches(path))
        if replace:
            # in-memory mirror of the seq rule: older rows with these ids
            # vanish, then the batch's own rows union in below
            old_ids = F.broadcast(batch.select(id_col))
            self.codes = self.codes.join(old_ids, id_col, "left_anti")
            if self.vectors is not None:
                self.vectors = self.vectors.join(old_ids, id_col, "left_anti")
        self.codes = self.codes.unionByName(
            enc.select(id_col, code_col, "centroid"), allowMissingColumns=True
        )
        if self.vectors is not None:
            self.vectors = self.vectors.unionByName(vecs, allowMissingColumns=True)
        # a commit onto the mirrored layout keeps the mirror; an
        # in-memory-only (or foreign-path) ingest breaks it — save() then
        # takes the full rewrite instead of the bounded fold
        self._mirror_path = path if self._mirror_path == path else None
        return self

    def upsert(self, batch: DataFrame, path: str | None = None):
        """Replace-by-id ingest — the reference's write verb
        (upsert.go:16): one atomic commit that tombstones the batch's
        ids against every older row and adds the batch's fresh codes
        (and co-located floats) in their place. See ``add_batch``."""
        return self.add_batch(batch, path=path, replace=True)

    def delete(self, ids, path: str | None = None):
        """Delete-by-id — the remaining Pinecone-surface verb on the
        persisted serving artifact. ``ids`` is a one-column DataFrame
        (or any python iterable of ids). With ``path``, the tombstone
        set commits as an atomic ``batches/<seq>_<uuid>`` dir holding
        only ``deletes`` (ONE rename — readable state either shows the
        delete or doesn't, never half of it); every read path then
        masks rows whose commit seq is strictly older (a later
        ``add_batch``/``upsert`` of the same id is visible again —
        last-writer-wins by commit order), and the in-memory plans take
        one broadcast anti-join each. The tombstone set stays
        broadcast-small by contract; ``save`` folds it away physically,
        resetting the mask to empty."""
        self._require_writable("delete")
        spark = self.codes.sparkSession
        if not isinstance(ids, DataFrame):
            # driver data: deterministic and known non-empty, so no pin and
            # no emptiness job — the commit write is the one job
            rows = [(i,) for i in ids]
            if not rows:
                return self
            ids = local_df(spark, rows, [self.id_col]).select(self.id_col)
        else:
            # pin: the disk write and the in-memory anti-joins are separate
            # jobs — a nondeterministic ids plan could tombstone one set on
            # disk and mask another in memory
            ids = ids.select(self.id_col).localCheckpoint(eager=True)
            if ids.isEmpty():
                return self
        if path is not None:
            _commit(
                path,
                "delete",
                lambda stage, seq: _write_deletes(self, ids, stage, seq),
                lambda: _committed_batches(path),
            )
        self.codes = self.codes.join(F.broadcast(ids), self.id_col, "left_anti")
        if self.vectors is not None:
            self.vectors = self.vectors.join(
                F.broadcast(ids), self.id_col, "left_anti"
            )
        # mirror bookkeeping (see _fold_touched): a committed delete on the
        # layout this object mirrors keeps the mirror; an in-memory-only or
        # foreign-path delete breaks it (save() then takes the full rewrite)
        self._mirror_path = path if self._mirror_path == path else None
        return self


class IvfSq8Index(_PersistedIvfIndex):
    """The persisted FAISS-style ``IVFx,SQ8`` serving artifact — the
    production form the registry rows (`ann_ivf_sq8_*`) build inline.
    One object owns the three frozen components a serving fleet ships:
    the coarse centroid matrix (probe decisions, driver-side), the
    per-dim SQ8 ``(mins, deltas)`` (encode/ADC weights), and the codes
    table persisted ``partitionBy(centroid)`` (file-level pruning).

    Build once (``build``), ``save``/``load`` the layout, then per query:
    ``probe`` (integer-ADC top-k over pruned codes — quantized scores),
    ``search`` (probe + exact re-rank of the shortlist floats — exact
    scores; the serving default), ``search_batched`` (N queries, one
    codes scan). ``add_batch`` ingests new vectors map-only against the
    frozen quantizer+scaler — the streaming maintenance story
    (``streaming_sq8_index`` is its foreachBatch twin).

    At 100 TB: the codes directory is ~1 B/dim·N (4× under float32 on
    disk, more after parquet byte-packing), a query reads nprobe/k of
    it plus ``shortlist`` float point-reads, and the driver state is
    k·dim centroids + 2·dim scaler floats — kilobytes."""

    _code_col = "sq8_codes"
    _frozen = "scaler"

    def __init__(
        self,
        codes: DataFrame,
        centroids,
        mins: list[float],
        deltas: list[float],
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        vectors: DataFrame | None = None,
    ):
        super().__init__(codes, centroids, id_col, vec_col, vectors)
        self.mins = list(mins)
        self.deltas = list(deltas)

    @classmethod
    def _from_meta(cls, meta: dict, codes: DataFrame, vectors) -> "IvfSq8Index":
        return cls(
            codes, meta["centroids"], meta["mins"], meta["deltas"],
            meta["id_col"], meta["vec_col"], vectors=vectors,
        )

    def _meta_dict(self) -> dict:
        return {
            "centroids": self.centroids.tolist(),
            "mins": self.mins,
            "deltas": self.deltas,
            "id_col": self.id_col,
            "vec_col": self.vec_col,
        }

    def _rebuild_defaults(self) -> dict:
        """Geometry for ``rebuild_layout`` when the caller passes no
        build kwargs: the LAYOUT'S OWN shape, read off the frozen
        components — never ``build``'s signature defaults (an index
        built with 64 cells rebuilt bare must get 64 cells back)."""
        return {"n_centroids": int(self.centroids.shape[0])}

    @classmethod
    def build(
        cls,
        df: DataFrame,
        n_centroids: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        iters: int = 5,
        sample_rows: int | None = None,
        seed: int = 1,
    ) -> "IvfSq8Index":
        """Fit the coarse quantizer on a bounded driver-side sample (no
        MLlib), train the SQ8 scaler on the FULL corpus, then assign and
        encode in one map pass. Four steps:

        - one Arrow pass over the corpus (``_sq8_train_cell_counts``
          over one constant cell, which is exactly ``sq8_train``, so the
          scaler is bit-identical to it) gives the scaler and the
          non-NULL row count;
        - ``_train_sample`` draws ``min(256·n_centroids, sample_rows)``
          of those rows, ranked by ``xxhash64(id)``: 256 rows per
          centroid is FAISS's ``max_points_per_centroid`` default, and
          ``sample_rows`` only lowers that cap. The draw does not depend
          on the partitioning;
        - seeded k-means++ plus ``iters`` Lloyd iterations fit the
          centroids in numpy on the driver (``_kmeanspp_lloyd``;
          ``seed`` seeds k-means++). A corpus with fewer distinct
          vectors than ``n_centroids`` gets fewer centroids;
        - codes and co-located floats both project the ONE nearest-
          centroid assignment frame (``_sq8_codes``, as ``_encode``
          does), so no join of codes back on id.

        Degenerate-layout tripwire (``build_balanced``'s contract: a
        mega-cell composite would be a hidden full scan): when more than
        half of the FULL corpus's assignment falls in one cell, the
        quantizer is refit by ``IvfIndex.build_portable`` on the corpus
        (or on its Bernoulli ``sample_rows`` sample). When the sample is
        the whole non-NULL corpus the occupancy counts come from the
        sample's own labels; otherwise one more fused pass over the
        assignment counts them. So the build runs 2 Spark jobs over a
        file scan, or 3 when the corpus outgrows the sample, plus
        ``build_portable``'s on a trip. (On an in-memory frame no larger
        than the sample, Spark drops the sample's limit and sorts the
        frame globally: a sampling job and a shuffle more.) A corpus
        with no non-NULL vector raises ``ValueError``."""
        mins, deltas, (n,) = _sq8_train_cell_counts(
            df.select(vec_col, F.lit(0).alias("centroid")), vec_col, 1
        )
        if n == 0:
            raise ValueError(
                f"IvfSq8Index.build: {vec_col!r} holds no non-NULL vector"
            )
        cap = 256 * n_centroids
        if sample_rows is not None:
            cap = min(cap, sample_rows)
        x = _train_sample(
            df.where(F.col(vec_col).isNotNull()), id_col, vec_col, cap, n=n
        )
        centroids, labels = _kmeanspp_lloyd(x, n_centroids, seed, iters)
        assigned = assign_nearest_centroid(df, centroids, vec_col)
        if len(x) == n:
            counts = np.bincount(labels)
        else:
            _, _, counts = _sq8_train_cell_counts(
                assigned, vec_col, len(centroids)
            )
        if max(counts) / n > 0.5:
            fit_on = df
            if sample_rows is not None and n > sample_rows:
                fit_on = df.sample(fraction=sample_rows / n, seed=seed)
            centroids = IvfIndex.build_portable(
                fit_on, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col,
                iters=iters,
            ).centroids
            assigned = assign_nearest_centroid(df, centroids, vec_col)
        return cls(
            assigned.select(id_col, _sq8_codes(vec_col, mins, deltas), "centroid"),
            centroids, mins, deltas, id_col, vec_col,
            vectors=assigned.select(id_col, vec_col, "centroid"),
        )

    def cell_stats(self) -> dict:
        """Same balance fingerprint as ``IvfIndex.cell_stats`` (max_share
        near 1.0 = the composite is a full scan in disguise)."""
        return _cell_stats(self.codes, int(self.centroids.shape[0]))

    def probe_centroid_ids(self, query_vec, nprobe: int = 2) -> list[int]:
        """Euclidean nearest cells (the quantizer's own metric) —
        driver-side over the kilobyte centroid matrix."""
        q = np.asarray(query_vec, dtype=np.float64)
        d = ((self.centroids - q[None, :]) ** 2).sum(axis=1)
        return [int(i) for i in np.argsort(d, kind="stable")[:nprobe]]

    def probe(
        self,
        query_vec,
        k: int = 10,
        nprobe: int = 2,
        impl: str = "expr",
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """Quantized-domain top-k: prune + integer ADC over codes only
        (``ivf_sq8_topk``). Scores are int64 ADC values — use ``search``
        when exact scores must leave the system. ``allowed`` restricts
        the scan to an id set (``_allowed_codes``)."""
        return ivf_sq8_topk(
            self._allowed_codes(allowed),
            self.probe_centroid_ids(query_vec, nprobe),
            query_vec,
            self.deltas,
            k=k,
            id_col=self.id_col,
            impl=impl,
        )

    def search(
        self,
        vectors_df: DataFrame | None = None,
        query_vec=None,
        k: int = 10,
        nprobe: int = 2,
        shortlist: int = 100,
        metric: str = "dotproduct",
        round_to: int | None = 6,
        impl: str = "expr",
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """The serving default: prune + ADC shortlist + exact re-rank.
        The floats come from ``vectors_df`` when given (broadcast
        semi-join; that table never shuffles — but a FLAT float table
        costs a full float-column scan per query), else from the
        co-located store pruned to the probed cells (nprobe/k of the
        float bytes; BASELINE.md r13 measures the difference). Exact
        final scores. ``allowed`` restricts serving to an id set
        (``_allowed_codes`` — the filtered-query verb); the shortlist is
        then all-allowed by construction, so the re-rank needs no
        additional mask."""
        if query_vec is None:
            raise ValueError("query_vec is required")
        cells = self.probe_centroid_ids(query_vec, nprobe)
        return ivf_sq8_rerank_topk(
            self._allowed_codes(allowed),
            self._rerank_side(vectors_df, cells),
            cells,
            query_vec,
            self.deltas,
            k=k,
            shortlist=shortlist,
            id_col=self.id_col,
            vec_col=self.vec_col,
            metric=metric,
            round_to=round_to,
            impl=impl,
        )

    def search_batched(
        self,
        vectors_df: DataFrame | None = None,
        queries: list | None = None,
        k: int = 10,
        nprobe: int = 2,
        shortlist: int = 100,
        metric: str = "dotproduct",
        round_to: int | None = 6,
        impl: str = "expr",
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """N queries, ONE codes scan over the union of probed cells, ONE
        float pass re-ranking every shortlist (``ivf_sq8_batched_rerank_
        topk``; ``impl`` picks the shortlist scoring kernel). ``queries``
        is ``[(query_id, vector)]``. Without ``vectors_df``, the
        co-located store pruned to the UNION of probed cells serves the
        re-rank (every query's shortlist lives inside its own probed
        cells ⊆ the union). ``allowed`` applies ONE id filter to the
        shared codes scan — all queries in the batch serve under the
        same metadata predicate."""
        if not queries:
            raise ValueError("queries is required")
        probe_map = {
            qid: self.probe_centroid_ids(vec, nprobe) for qid, vec in queries
        }
        union_cells = sorted({c for cells in probe_map.values() for c in cells})
        return ivf_sq8_batched_rerank_topk(
            self._allowed_codes(allowed),
            self._rerank_side(vectors_df, union_cells),
            queries,
            probe_map,
            self.deltas,
            k=k,
            shortlist=shortlist,
            id_col=self.id_col,
            vec_col=self.vec_col,
            metric=metric,
            round_to=round_to,
            impl=impl,
        )

    def _encode(self, batch: DataFrame):
        """Frozen-quantizer, frozen-scaler ingest derivation for
        ``add_batch``: assign + encode the batch map-only. Out-of-range
        values clamp to 0/255 by ``sq8_encode``'s contract; monitor clamp
        rates and scaler drift, rebuild when they degrade — same
        maintenance posture as ``IvfIndex.add_batch``/``drift``. Codes
        and floats both project the ONE assignment frame: a join of the
        codes back to it on id would cost a broadcast job per commit and
        multiply a repeated id's rows."""
        assigned = assign_nearest_centroid(batch, self.centroids, self.vec_col)
        enc = assigned.select(
            self.id_col, _sq8_codes(self.vec_col, self.mins, self.deltas),
            "centroid",
        )
        return enc, assigned.select(self.id_col, self.vec_col, "centroid")


class IvfPqIndex(_PersistedIvfIndex):
    """Persisted FAISS-style ``IVFx,PQm`` serving artifact — the
    MEMORY-bound tier of the persisted index family (``IvfSq8Index`` is
    the 4×-compression tier). PQ codes cost ``m`` bytes/vector against
    SQ8's dim bytes: at the reference's dim=1536 (``main.go:27``) that
    is 8-16 bytes vs 1536 — ~100-190× less serving state, which is the
    layout a RAM-resident 100 TB corpus actually deploys (FAISS
    ``IVF<x>,PQ<m>``; Jégou et al. TPAMI'11 §IV, residual encoding).

    Same persistence contract as ``IvfSq8Index`` — one implementation,
    the shared ``_PersistedIvfIndex`` base: codes
    ``partitionBy(centroid)`` (file-level pruning), one ``meta.json``
    carrying the FROZEN coarse centroids + residual codebooks
    (driver-side kilobytes), an optional co-located float store for the
    refine stage, atomic ``batches/<uuid>`` ingest commits,``save`` as
    the compaction verb (folds batch dirs back into the base layout),
    and the loudly-unreadable-mid-save crash posture (old meta removed
    first, new meta renamed in last). Probe math delegates to
    ``IvfPqResidualIndex`` — per-cell integer LUT ADC, exact int64
    sums, SQL-replayable from persisted codes + LUTs.

    Serving reads per query: (nprobe/C) of an ``m``-byte/row codes
    table + ``shortlist`` float point-reads — the refine stage's exact
    scores mean cell pruning and quantization can only cost recall,
    never corrupt a returned score."""

    _code_col = "codes"
    _frozen = "codebooks"

    def __init__(
        self,
        codes: DataFrame,
        centroids,
        codebooks,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        vectors: DataFrame | None = None,
    ):
        super().__init__(codes, centroids, id_col, vec_col, vectors)
        self.codebooks = np.asarray(codebooks, dtype=np.float64)

    @classmethod
    def _from_meta(cls, meta: dict, codes: DataFrame, vectors) -> "IvfPqIndex":
        return cls(
            codes, meta["centroids"], meta["codebooks"], meta["id_col"],
            meta["vec_col"], vectors=vectors,
        )

    def _meta_dict(self) -> dict:
        return {
            "centroids": self.centroids.tolist(),
            "codebooks": self.codebooks.tolist(),
            "id_col": self.id_col,
            "vec_col": self.vec_col,
        }

    def _rebuild_defaults(self) -> dict:
        """Layout geometry for a bare ``rebuild_layout`` — see
        ``IvfSq8Index._rebuild_defaults``: cells from the centroid
        matrix, (m, ksub) from the codebook tensor shape."""
        return {
            "n_centroids": int(self.centroids.shape[0]),
            "m": int(self.codebooks.shape[0]),
            "ksub": int(self.codebooks.shape[1]),
        }

    def _proto(self) -> "IvfPqResidualIndex":
        return IvfPqResidualIndex(
            self.centroids, self.codebooks, self.id_col, self.vec_col
        )

    def _assign_vectors(self, df: DataFrame) -> DataFrame:
        """Map-only ``(id, vec, centroid)`` for the co-located float
        store — the SAME normalize + matmul-argmin cell math as
        ``IvfPqResidualIndex.encode`` (bit-identical numpy ops, so the
        float store's partitioning can never diverge from the codes'),
        without joining the float column back to the codes (a join
        would shuffle the full float table at build/ingest time; this
        keeps the floats on a map-only lineage, the IvfSq8Index
        shape)."""
        import pandas as pd
        from pyspark.sql.types import IntegerType, StructField, StructType

        cent = self.centroids
        cent_sq = (cent * cent).sum(axis=1)
        id_col, vec_col = self.id_col, self.vec_col
        out_schema = StructType(
            [
                df.schema[id_col],
                df.schema[vec_col],
                StructField("centroid", IntegerType(), False),
            ]
        )

        def assign(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                v = PqIndex._normalize(
                    np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
                )
                cell = (cent_sq[None, :] - 2.0 * (v @ cent.T)).argmin(axis=1)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        vec_col: pdf[vec_col],
                        "centroid": cell.astype("int32"),
                    }
                )

        return df.select(id_col, vec_col).mapInPandas(assign, schema=out_schema)

    @classmethod
    def build(
        cls,
        df: DataFrame,
        n_centroids: int = 8,
        m: int = 8,
        ksub: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        sample_rows: int = 2048,
        seed: int = 0,
        iters: int = 10,
    ) -> "IvfPqIndex":
        """Coarse quantizer + residual codebooks on a bounded sample
        (``IvfPqResidualIndex.build``), then ONE map-only encode pass
        over the corpus (normalize → assign → residual → code, no
        shuffle). The co-located float frame joins the raw vectors to
        their assigned cell so a saved store serves pruned re-ranks."""
        proto = IvfPqResidualIndex.build(
            df,
            n_centroids=n_centroids,
            m=m,
            ksub=ksub,
            id_col=id_col,
            vec_col=vec_col,
            sample_rows=sample_rows,
            seed=seed,
            iters=iters,
        )
        codes = proto.encode(df)
        idx = cls(codes, proto.centroids, proto.codebooks, id_col, vec_col)
        idx.vectors = idx._assign_vectors(df)
        return idx

    def probe_cells(self, query_vec, nprobe: int = 2) -> list[int]:
        return self._proto().probe_cells(query_vec, nprobe)

    def luts_int(self, query_vec, cells: list[int]):
        return self._proto().luts_int(query_vec, cells)

    def probe(
        self,
        query_vec,
        k: int = 10,
        nprobe: int = 2,
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """Quantized-domain top-k: partition-pruned codes scan + integer
        LUT ADC (ascending int64 distances). Use ``search`` when exact
        scores must leave the system. ``allowed`` restricts the scan to
        an id set (``_allowed_codes``)."""
        return self._proto().probe(
            self._allowed_codes(allowed), query_vec, k=k, nprobe=nprobe
        )

    def probe_batched(
        self,
        queries: list,
        k: int = 10,
        nprobe: int = 2,
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """N queries, ONE partition-pruned codes scan
        (``ivfpq_residual_batched_topk`` — per-(query, cell) residual
        LUTs broadcast; bit-identical to N ``probe`` calls). ``queries``
        is ``[(query_id, vector)]``; returns
        ``(query_id, id, score)``. ``allowed`` applies ONE id filter to
        the shared scan — the whole batch serves under the same
        metadata predicate."""
        probe_map = {
            int(qid): self.probe_cells(vec, nprobe) for qid, vec in queries
        }
        return ivfpq_residual_batched_topk(
            self._proto(), self._allowed_codes(allowed), queries, probe_map, k=k
        )

    def search(
        self,
        vectors_df: DataFrame | None = None,
        query_vec=None,
        k: int = 10,
        nprobe: int = 2,
        shortlist: int = 100,
        metric: str = "dotproduct",
        round_to: int | None = 6,
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """The serving default: prune + LUT-ADC shortlist + exact
        re-rank of the shortlist floats (broadcast semi-join — the float
        table never shuffles). Exact final scores. ``allowed`` restricts
        serving to an id set (``_allowed_codes``); the shortlist is then
        all-allowed by construction."""
        if query_vec is None:
            raise ValueError("query_vec is required")
        cells = self.probe_cells(query_vec, nprobe)
        short = self._proto()._probe_cells_topk(
            self._allowed_codes(allowed), query_vec, cells, shortlist
        ).select(self.id_col)
        cand = self._rerank_side(vectors_df, cells).join(
            F.broadcast(short), self.id_col
        )
        return topk(
            cand,
            query_vec,
            k=k,
            metric=metric,
            id_col=self.id_col,
            vec_col=self.vec_col,
            round_to=round_to,
        )

    def search_batched(
        self,
        vectors_df: DataFrame | None = None,
        queries: list | None = None,
        k: int = 10,
        nprobe: int = 2,
        shortlist: int = 100,
        metric: str = "dotproduct",
        round_to: int | None = 6,
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """N queries, ONE pruned codes scan, ONE float pass — the
        memory-bound tier's batched serving default, completing the
        symmetry with ``IvfSq8Index.search_batched``: the residual
        LUT-ADC shortlists (``probe_batched`` — bit-identical to N
        ``probe`` calls) feed the shared exact re-rank tail
        (``batched_exact_rerank``), so final scores are the exact
        metric. ``queries`` is ``[(query_id, vector)]``. Without
        ``vectors_df``, the co-located store pruned to the UNION of
        probed cells serves the re-rank."""
        if not queries:
            raise ValueError("queries is required")
        probe_map = {
            int(qid): self.probe_cells(vec, nprobe) for qid, vec in queries
        }
        short = ivfpq_residual_batched_topk(
            self._proto(), self._allowed_codes(allowed), queries, probe_map,
            k=shortlist,
        ).select("query_id", self.id_col)
        union_cells = sorted({c for cells in probe_map.values() for c in cells})
        return batched_exact_rerank(
            self._rerank_side(vectors_df, union_cells),
            short,
            queries,
            k=k,
            id_col=self.id_col,
            vec_col=self.vec_col,
            metric=metric,
            round_to=round_to,
        )

    def _encode(self, batch: DataFrame):
        """Frozen-quantizer, frozen-codebook ingest derivation for
        ``add_batch``: ONE map-only normalize→assign→residual→encode
        pass for the codes, and the same cell math for the co-located
        floats (``_assign_vectors``). Codebook drift is the maintenance
        signal: rebuild when residual distortion on new batches degrades
        (same posture as SQ8's clamp-rate watch)."""
        return self._proto().encode(batch), self._assign_vectors(batch)


def sq8_topk_cosine(
    codes_df: DataFrame,
    query_vec,
    deltas: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    scale: int = 1_000_000_000,
    impl: str = "expr",
) -> DataFrame:
    """Cosine over SQ8 — the reference's ACTIVE metric (main.go:28),
    completing the quantized metric triple (dot, euclidean, cosine).

    Normalize-at-encode: the codes table must hold vectors quantized
    AFTER L2 normalization (``l2_normalize`` at encode time — the
    store-once, score-many form the float index uses too). Then
    cos(x, q) = dot(x/‖x‖, q/‖q‖), so cosine ranking IS the integer dot
    ADC of ``sq8_topk`` with weights built from the NORMALIZED query —
    same codes-only scan, same exact-in-any-engine int64 arithmetic, no
    per-row float division anywhere. This function normalizes q with the
    same left-to-right fold ``l2_normalize`` uses (element square
    products, then sequential adds from 0.0) so the SQL oracle's
    ``list_reduce`` replay is bit-identical, and delegates to
    ``sq8_topk``. Zero-norm queries are rejected (no direction = no
    cosine); zero-norm CORPUS vectors normalize to NULL and never
    surface in the top-k (NULL scores sort last under DESC)."""
    acc = 0.0
    for v in query_vec:
        acc += float(v) * float(v)
    if acc <= 0.0:
        raise ValueError("cosine top-k needs a non-zero query vector")
    nrm = math.sqrt(acc)
    qn = [float(v) / nrm for v in query_vec]
    return sq8_topk(
        codes_df, qn, deltas, k=k, id_col=id_col, scale=scale, impl=impl
    )


def sq8_topk_euclidean(
    codes_df: DataFrame,
    query_vec,
    mins: list[float],
    deltas: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    scale: int = 1_000_000_000,
    impl: str = "expr",
) -> DataFrame:
    """Euclidean twin of ``sq8_topk`` — the SQ8 tier speaks all three of
    the reference's metrics (upsert.go:27 lists cosine/euclidean/
    dotproduct; cosine over SQ8 = this dot form on pre-normalized
    vectors). Rank by the expanded square with the query-only constant
    dropped: ‖x̂-q‖² ∝ Σ a_d·c_d² + b_d·c_d with a_d = ⌊Δ_d²·S+½⌋ and
    b_d = ⌊2Δ_d(min_d - q_d)·S+½⌋ — per-dim int64 weights, ASCENDING
    integer scores, same exact-in-any-engine property as the dot form.
    c² ≤ 65025 with dim·a_d ≪ 2⁶³ keeps the fold inside int64.

    ``impl="numpy"``: the same integer arithmetic as two matmuls per
    Arrow batch ((C∘C)·a + C·b) with a per-partition k-heap — the
    at-scale path at ada-002 dimensionality, bit-identical scores
    (pinned by test), mirroring ``sq8_topk``'s two implementations."""
    a = [int(np.floor(d * d * scale + 0.5)) for d in deltas]
    b = [
        int(np.floor(2 * d * (m - float(q)) * scale + 0.5))
        for q, m, d in zip(query_vec, mins, deltas)
    ]
    if impl == "numpy":
        av = np.asarray(a, dtype=np.int64)
        bv = np.asarray(b, dtype=np.int64)
        kk = k

        def part_topk(batches):
            import pandas as pd

            best: pd.DataFrame | None = None
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                c = np.vstack(pdf["sq8_codes"].to_numpy()).astype(np.int64)
                s = (c * c) @ av + c @ bv
                cur = pd.DataFrame({id_col: pdf[id_col], "score_int": s})
                best = cur if best is None else pd.concat((best, cur))
                best = best.sort_values(
                    ["score_int", id_col], ascending=[True, True]
                ).head(kk)
            if best is not None:
                yield best

        partial = codes_df.select(id_col, "sq8_codes").mapInPandas(
            part_topk, schema=f"{id_col} long, score_int long"
        )
        return partial.orderBy(
            F.col("score_int").asc(), F.col(id_col).asc()
        ).limit(k)
    aarr = array_lit(a, "bigint")
    barr = array_lit(b, "bigint")
    s_sq = F.aggregate(
        F.zip_with(
            F.col("sq8_codes"), aarr, lambda c, av: c.cast("long") * c * av
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    s_lin = F.aggregate(
        F.zip_with(F.col("sq8_codes"), barr, lambda c, bv: c.cast("long") * bv),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        codes_df.select(F.col(id_col), (s_sq + s_lin).alias("score_int"))
        .orderBy(F.col("score_int").asc(), F.col(id_col).asc())
        .limit(k)
    )


def semdedup(
    df: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    iters: int = 5,
    impl: str = "expr",
    sample_rows: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    deduplication of an embedding corpus by clustering + within-cluster
    cosine pruning — the cluster scope is what makes embedding dedup
    tractable at LLM-pretraining scale. Where ``portable_lsh_join``
    finds near-IDENTICAL vectors (random-hyperplane buckets, high-τ),
    SemDeDup removes semantically REDUNDANT ones: k-means partitions
    the space, and pairwise cosine is computed only WITHIN a cluster —
    the candidate join is an equi-join on the centroid id, so shuffle
    and compare volume are Σ|cluster|², bounded by growing n_clusters
    with the corpus (the paper runs 50k clusters on LAION; cluster size,
    not corpus size, is the unit of quadratic work).

    Keeper rule (deterministic, paper §3: keep LOW-centroid-similarity
    points — "edge" examples carry more information): a row is removed
    iff some other row in its cluster has rounded cosine ≥ ``threshold``
    to it AND ranks before it by (centroid_similarity ASC, id ASC).
    The rule is a non-recursive EXISTS over the pair set, so the whole
    query phase replays in ANSI SQL against the persisted assignment
    (the k-means build itself stays unchecked, like every IVF oracle).

    Returns every input row with its cluster, rounded centroid
    similarity, and ``kept`` flag — downstream curation filters
    ``kept`` and writes the surviving corpus.

    Scale: assignment is the frozen-quantizer map (no shuffle); the
    pair join shuffles ids+vectors once on the centroid key; the
    EXISTS is a semi-join on the same key. Nothing is O(n²) globally
    and no collect exceeds k·dim centroid floats.

    ``impl``: ``"expr"`` (default, SQL-oracle-parity form) materializes
    the within-cluster pair set through a join; ``"numpy"`` is the
    at-scale kernel — ONE shuffle groups each cluster, then a blocked
    dense matmul (the paper's per-cluster similarity matrix) finds
    dominated rows WITHOUT materializing pairs: |cluster|·block cosine
    values live at a time, pair rows never shuffle. Same rounded-at-6
    scores and the same election; kept flags equal the expr path on the
    gate fixture (pinned by test). Zero-norm vectors: the expr path's
    NULL cosine never pairs; the numpy path scores them 0 — identical
    kept flags for any τ > 0. ``sample_rows`` fits the quantizer on a
    deterministic sample (the paper's regime — at 1M+ rows a full-corpus
    Lloyd fit costs more than the dedup)."""
    spark = df.sparkSession
    fit_on = df
    if sample_rows is not None:
        n = df.count()
        if n > sample_rows:
            fit_on = df.sample(fraction=sample_rows / n, seed=1)
    proto = IvfIndex.build_balanced(
        fit_on, n_centroids=n_clusters, id_col=id_col, vec_col=vec_col, iters=iters
    )
    assigned = assign_nearest_centroid(df, proto.centroids, vec_col)
    if impl == "numpy":
        cents = np.asarray(proto.centroids, dtype=np.float64)
        tau, rt = float(threshold), int(round_to)
        icol, vcol = id_col, vec_col
        id_type = df.schema[id_col].dataType.simpleString()

        def score_cell(pdf):
            import pandas as pd

            from whatsapp_vectordb_spark.operators.search import _round_half_up

            ids = pdf[icol].to_numpy()
            M = np.vstack(pdf[vcol].to_numpy()).astype(np.float64)
            cid = int(pdf["centroid"].iloc[0])
            norms = np.linalg.norm(M, axis=1)
            mn = M / np.where(norms == 0.0, 1.0, norms)[:, None]
            c = cents[cid]
            cn = c / (np.linalg.norm(c) or 1.0)
            # HALF_UP like F.round / DuckDB ROUND — numpy's default
            # half-to-even could flip a kept flag on a grid-exact tie
            cs = _round_half_up(mn @ cn, rt)
            # election order = (cent_sim ASC, id ASC); a row is dominated
            # iff any EARLIER row's similarity clears τ — computed in
            # row blocks against the earlier prefix so only
            # |block|·|prefix| cosines are ever resident (the paper's
            # per-cluster dense matrix, without the |cluster|² buffer)
            order = np.lexsort((ids, cs))
            mo = mn[order]
            nrows = len(ids)
            dom = np.zeros(nrows, dtype=bool)
            B = 4096
            for s in range(0, nrows, B):
                e = min(s + B, nrows)
                sim = _round_half_up(mo[s:e] @ mo[:e].T, rt)
                earlier = np.arange(e)[None, :] < np.arange(s, e)[:, None]
                dom[s:e] = ((sim >= tau) & earlier).any(axis=1)
            kept = np.empty(nrows, dtype=bool)
            kept[order] = ~dom
            return pd.DataFrame(
                {icol: ids, "centroid": np.int32(cid), "cent_sim": cs, "kept": kept}
            )

        return (
            assigned.select(id_col, vec_col, F.col("centroid").cast("int").alias("centroid"))
            .groupBy("centroid")
            .applyInPandas(
                score_cell,
                schema=f"{icol} {id_type}, centroid int, cent_sim double, kept boolean",
            )
        )
    cent_df = local_df(spark, 
        [(int(i), [float(x) for x in c]) for i, c in enumerate(proto.centroids)],
        "centroid int, _cv array<double>",
    )
    scored = assigned.join(F.broadcast(cent_df), "centroid").select(
        F.col(id_col),
        F.col(vec_col),
        F.col("centroid").cast("int").alias("centroid"),
        F.round(cosine_similarity(F.col(vec_col), F.col("_cv")), round_to).alias(
            "cent_sim"
        ),
    )
    a = scored.alias("a")
    b = scored.alias("b")
    # rows dominated by an earlier-ranked near-duplicate in their cluster
    removed = (
        a.join(
            b,
            on=[
                F.col("a.centroid") == F.col("b.centroid"),
                F.col(f"a.{id_col}") != F.col(f"b.{id_col}"),
                F.round(
                    cosine_similarity(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")),
                    round_to,
                )
                >= threshold,
                (F.col("b.cent_sim") < F.col("a.cent_sim"))
                | (
                    (F.col("b.cent_sim") == F.col("a.cent_sim"))
                    & (F.col(f"b.{id_col}") < F.col(f"a.{id_col}"))
                ),
            ],
        )
        .select(F.col(f"a.{id_col}").alias(id_col))
        .dropDuplicates([id_col])
    )
    return (
        scored.join(removed.withColumn("_rm", F.lit(True)), id_col, "left")
        .select(
            id_col,
            "centroid",
            "cent_sim",
            F.coalesce(~F.col("_rm"), F.lit(True)).alias("kept"),
        )
    )
