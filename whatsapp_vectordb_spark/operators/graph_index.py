"""Persistent kNN-graph index — incremental graph-ANN maintenance.

The batch graph build (``ann.knn_graph_lsh``) recomputes the whole
corpus per run; a serving deployment instead keeps the graph's state on
disk and folds each NEW vector batch in — the same incremental posture
the dedup tiers (``MinHashDedupIndex``) and the serving layouts
(``IvfSq8Index.upsert``) already have, closing the one lifecycle gap in
the graph tier: without it, adding vectors means rebuilding the graph.

State per committed batch (one atomic ``batches/<seq>_<uuid>`` dir —
the ``_BatchDirIndex`` machinery, which also brings compaction with
retained victims, commit-seq time travel, ``vacuum``,
``maintenance_tick`` and the fsck ``verify()`` for free):

- ``banded``: the batch's portable-LSH band keys ``(id, band, chunk)``
  — narrow rows, the candidate index;
- ``vecs``: the batch's float vectors — the cosine-verify input (the
  price every exact-verify tier pays; same bytes the serving layouts'
  ``store_vectors`` keeps);
- ``pairs``: every candidate pair INVOLVING this batch
  ``(id_a < id_b, cos_sim)`` — new×new plus new×stored, distinct.

EXACT batch-split invariance (the property the oracle checks): the
one-shot candidate set is union-decomposable — signatures are pure
per-row functions, the banded self-join has no caps, and every pair of
a grown corpus involves the batch that completed it:
``pairs(A∪B) = pairs(A) ∪ (B×(A∪B) candidates)``. So the union of
per-batch ``pairs`` tables IS the one-shot candidate set, and the
per-node top-k over it IS ``knn_graph_lsh`` over the union — bit for
bit, any split (asserted in tests; the registry row's DuckDB oracle is
the one-shot graph SQL itself).

Scale shape: ``add_batch`` joins the NEW batch's band keys against the
stored band-key table — shuffle O(batch collisions), never a corpus
self-join — and appends O(batch) state; ``edges()`` is one window
top-k over the narrow pairs union, shuffled on the 8-byte node id;
``save_serving`` hands the result to the bucketed beam layout
(``save_knn_graph``). Reference scope: the graph tier extends the
reference's single kNN query surface (main.go:89-184) the same way the
other serving tiers do — public algorithm lineage is Malkov 2018 (NSW)
for serving and Dong 2011 (NN-Descent) for why incremental candidate
maintenance is the standard move.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from whatsapp_vectordb_spark.functions.vector import cosine_similarity
from whatsapp_vectordb_spark.operators.dedup_index import _BatchDirIndex


class KnnGraphIndex(_BatchDirIndex):
    """Incremental kNN graph: per-batch banded signatures + candidate
    pairs, per-node top-``k`` derived at read time. Geometry
    (``n_planes``/``bands``/``seed``/quantization) is fixed at
    construction and must match across the index's life — band keys
    from different geometries never collide correctly."""

    _TABLES = ("banded", "vecs", "pairs")

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        k: int = 5,
        n_planes: int = 32,
        bands: int = 4,
        seed: int = 0,
        round_to: int = 6,
        dim: int | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        super().__init__(spark, path)
        self.k = k
        self.n_planes = n_planes
        self.bands = bands
        self.seed = seed
        self.round_to = round_to
        self.dim = dim
        self.id_col = id_col
        self.vec_col = vec_col

    def _banded(self, df: DataFrame) -> DataFrame:
        """Portable banded signatures of one batch — the band keys
        ``portable_lsh_join`` joins on (``ann._portable_bands``), so
        stored keys are bit-compatible with the one-shot join and any
        engine replay."""
        from whatsapp_vectordb_spark.operators.ann import (
            _portable_bands,
            _resolve_dim,
            portable_planes,
        )

        dim = _resolve_dim(df, self.vec_col, self.dim)
        planes = portable_planes(dim, self.n_planes, self.seed)
        return _portable_bands(df, planes, self.bands, self.id_col, self.vec_col)

    def add_batch(self, df: DataFrame) -> int:
        """Fold one vector batch in: band the batch, find candidate
        pairs batch×batch AND batch×stored by band-key equi-join,
        cosine-verify against the union float store, commit the three
        tables atomically. Returns the number of new candidate pairs.

        Ids are APPEND-ONLY across the index's life (the one-shot
        equivalence is defined over distinct ids); a duplicate id
        raises before anything commits."""
        ic = self.id_col
        new_banded = self._banded(df).localCheckpoint(eager=True)
        new_vecs = df.select(F.col(ic), F.col(self.vec_col))

        stored_banded = self._stored("banded")
        if stored_banded is not None:
            dup = (
                new_banded.select(ic)
                .distinct()
                .join(stored_banded.select(ic).distinct(), ic)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"id {dup[0][ic]!r} already ingested — the graph "
                    "index is append-only (one-shot equivalence is "
                    "defined over distinct ids); dedup upstream"
                )
        all_banded = (
            new_banded
            if stored_banded is None
            else stored_banded.unionByName(new_banded)
        )
        a = new_banded.alias("a")
        b = all_banded.alias("b")
        cand = (
            a.join(
                b,
                on=[
                    F.col("a.band") == F.col("b.band"),
                    F.col("a.chunk") == F.col("b.chunk"),
                    F.col(f"a.{ic}") != F.col(f"b.{ic}"),
                ],
            )
            .select(
                F.least(F.col(f"a.{ic}"), F.col(f"b.{ic}")).alias("id_a"),
                F.greatest(F.col(f"a.{ic}"), F.col(f"b.{ic}")).alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        stored_vecs = self._stored("vecs")
        all_vecs = (
            new_vecs
            if stored_vecs is None
            else stored_vecs.unionByName(new_vecs)
        )
        va = all_vecs.select(F.col(ic).alias("id_a"), F.col(self.vec_col).alias("_va"))
        vb = all_vecs.select(F.col(ic).alias("id_b"), F.col(self.vec_col).alias("_vb"))
        pairs = (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .select(
                "id_a",
                "id_b",
                F.round(cosine_similarity("_va", "_vb"), self.round_to).alias(
                    "cos_sim"
                ),
            )
            .where(F.col("cos_sim").isNotNull())
            .localCheckpoint(eager=True)
        )
        self._commit_batch(
            {"banded": new_banded, "vecs": new_vecs, "pairs": pairs}
        )
        return pairs.count()

    def edges(self, as_of: int | None = None) -> DataFrame:
        """The per-node top-``k`` graph over every committed batch (or
        the commit-seq bound ``as_of`` — yesterday's graph, through
        retained compactions): symmetrize the stored pairs, one window
        rank per source node — exactly ``knn_graph_lsh``'s final stage,
        so the result is bit-identical to the one-shot build over the
        ingested union (any batch split)."""
        pairs = self._stored("pairs", as_of)
        if pairs is None:
            raise ValueError(f"no committed batches at {self.path!r}")
        # one explode, not a self-union (r18, the knn_graph_lsh fix):
        # the union form scanned the stored pair files once per branch
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
        w = Window.partitionBy("src").orderBy(
            F.col("cos_sim").desc(), F.col("nbr").asc()
        )
        return (
            sym.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= self.k)
            .select("src", "nbr", "cos_sim", F.col("rank").cast("int").alias("rank"))
        )

    def save_serving(self, path: str, n_buckets: int = 64) -> DataFrame:
        """Materialize the current graph into the bucketed beam-serving
        layout (``save_knn_graph`` — ``partitionBy(src_bucket)``) and
        return the reloaded frame ready for ``graph_beam_topk``."""
        from whatsapp_vectordb_spark.operators.ann import save_knn_graph

        return save_knn_graph(self.edges(), path, n_buckets=n_buckets)
