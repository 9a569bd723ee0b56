from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from whatsapp_vectordb_spark.operators.ann import IvfIndex
from whatsapp_vectordb_spark.operators.search import topk


def test_ivf_recall_vs_exact(spark, embeddings):
    qvec = embeddings.where(F.col("vec_id") == 7).head()["embedding"]
    exact = [r["vec_id"] for r in topk(embeddings, qvec, k=10).collect()]
    ivf = IvfIndex.build(embeddings, n_centroids=8)
    approx = [r["vec_id"] for r in ivf.probe(qvec, k=10, nprobe=4).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert approx[0] == 7  # self is in the probed partition
    assert recall >= 0.5  # nprobe=4 of 8 centroids

    # full probe == exact
    full = [r["vec_id"] for r in ivf.probe(qvec, k=10, nprobe=8).collect()]
    assert full == exact


def test_portable_lsh_topk_subset_of_exact_ranking(spark, embeddings):
    from whatsapp_vectordb_spark.operators.ann import portable_lsh_topk

    qvec = embeddings.where(F.col("vec_id") == 0).head()["embedding"]
    approx = portable_lsh_topk(embeddings, query_id=0, k=10, round_to=6).collect()
    # self-match ranks first with score 1.0
    assert approx[0]["vec_id"] == 0
    assert abs(approx[0]["score"] - 1.0) < 1e-9
    # every ANN hit's score agrees with the exact brute-force score
    exact = {
        r["vec_id"]: r["score"]
        for r in topk(embeddings, qvec, k=embeddings.count(), round_to=6).collect()
    }
    for r in approx:
        assert exact[r["vec_id"]] == r["score"]


def test_portable_planes_are_deterministic():
    from whatsapp_vectordb_spark.operators.ann import portable_planes

    a = portable_planes(8, 4, seed=0)
    b = portable_planes(8, 4, seed=0)
    assert a == b
    assert all(s in (-1, 1) for row in a for s in row)
    assert portable_planes(8, 4, seed=1) != a


def test_mllib_lsh_topk_agrees_with_exact(spark, embeddings):
    from whatsapp_vectordb_spark.operators.ann import mllib_lsh_topk

    qvec = embeddings.where(F.col("vec_id") == 3).head()["embedding"]
    approx = [r["vec_id"] for r in mllib_lsh_topk(embeddings, qvec, k=5).collect()]
    assert approx and approx[0] == 3  # self-match nearest
    exact = [r["vec_id"] for r in topk(embeddings, qvec, k=5).collect()]
    assert len(set(approx) & set(exact)) >= 3  # decent recall at tiny scale


def test_ivf_save_load_prunes_partitions(spark, embeddings, tmp_path):
    from whatsapp_vectordb_spark.operators.ann import IvfIndex

    qvec = embeddings.where(F.col("vec_id") == 7).head()["embedding"]
    built = IvfIndex.build(embeddings, n_centroids=8)
    built.save(str(tmp_path / "ivf"))
    loaded = IvfIndex.load(spark, str(tmp_path / "ivf"))

    got = loaded.probe(qvec, k=10, nprobe=4)
    em = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    p = got._jdf.queryExecution().explainString(em)
    # centroid is a partition column of the saved index: the probe filter
    # must appear as a PartitionFilter (file pruning), not a data Filter
    assert "PartitionFilters" in p
    pf = p.split("PartitionFilters")[1][:160]
    assert "centroid" in pf
    assert [r["vec_id"] for r in got.collect()] == [
        r["vec_id"] for r in built.probe(qvec, k=10, nprobe=4).collect()
    ]


def test_multiprobe_candidates_superset_and_recall(spark, embeddings):
    from whatsapp_vectordb_spark.operators.ann import (
        portable_lsh_topk,
        portable_lsh_topk_multiprobe,
    )

    qvec = embeddings.where(F.col("vec_id") == 0).head()["embedding"]
    exact = {r["vec_id"] for r in topk(embeddings, qvec, k=10).collect()}
    single = portable_lsh_topk(embeddings, query_id=0, k=10, round_to=6).collect()
    multi = portable_lsh_topk_multiprobe(embeddings, query_id=0, k=10, round_to=6).collect()
    # the query's own bucket is always among the probes -> single-probe
    # hits can only be displaced by better candidates, never lost
    assert multi[0]["vec_id"] == 0
    single_scores = [r["score"] for r in single]
    multi_scores = [r["score"] for r in multi]
    # same k: multi-probe's k-th best is >= single-probe's (more candidates)
    assert multi_scores >= single_scores
    recall_multi = len(exact & {r["vec_id"] for r in multi}) / 10
    recall_single = len(exact & {r["vec_id"] for r in single}) / 10
    assert recall_multi >= recall_single


def test_portable_lsh_join_subset_of_allpairs_and_full_dup_recall(spark, embeddings):
    from whatsapp_vectordb_spark.operators.ann import portable_lsh_join
    from whatsapp_vectordb_spark.operators.dedup import embedding_near_duplicates

    emb = embeddings.limit(200).select("vec_id", "embedding")
    dupes = emb.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(dupes)
    lsh = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in portable_lsh_join(corpus, threshold=0.99).collect()
    }
    exact = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in embedding_near_duplicates(corpus, threshold=0.99).collect()
    }
    # LSH candidates verify with the same exact cosine: never a false pair
    assert lsh <= exact
    # identical vectors share every band bucket -> every planted dup found
    planted = {p for p in exact if p[1] == p[0] + 1000000}
    assert planted <= lsh


def _with_null_vector(spark):
    """vec_id 0..3 where row 2's vector is NULL — what the embedder emits
    for empty or tokenless text."""
    return spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.5, 0.2]),
            (1, [1.0, 0.0, 0.5, 0.2]),
            (2, None),
            (3, [0.9, 0.1, 0.5, 0.2]),
        ],
        "vec_id long, embedding array<double>",
    )


def test_portable_lsh_topk_skips_null_vectors(spark):
    """A NULL vector is never a candidate: single-probe, multi-probe and
    batched top-k all rank the three real vectors only."""
    from whatsapp_vectordb_spark.operators.ann import (
        portable_lsh_topk,
        portable_lsh_topk_batched,
        portable_lsh_topk_multiprobe,
    )

    df = _with_null_vector(spark)
    expected = [(0, 1.0), (1, 1.0), (3, 0.994468)]
    for op in (portable_lsh_topk, portable_lsh_topk_multiprobe):
        got = op(df, query_id=0, k=3, dim=4).collect()
        assert [(r["vec_id"], r["score"]) for r in got] == expected, op.__name__
    batched = (
        portable_lsh_topk_batched(df, query_ids=[0, 2], k=3, dim=4)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [(r["query_id"], r["vec_id"], r["score"]) for r in batched] == [
        (0, i, s) for i, s in expected
    ]


def test_portable_lsh_join_skips_null_vectors(spark):
    """A NULL vector never pairs — in the near-dup join, or in the kNN
    graph built from it."""
    from whatsapp_vectordb_spark.operators.ann import knn_graph_lsh, portable_lsh_join

    df = _with_null_vector(spark)
    got = {tuple(r) for r in portable_lsh_join(df, threshold=0.9, dim=4).collect()}
    assert got == {(0, 1, 1.0), (0, 3, 0.994468), (1, 3, 0.994468)}
    graph = knn_graph_lsh(df, k=3, n_planes=16, bands=4, dim=4).collect()
    assert {r["src"] for r in graph} | {r["nbr"] for r in graph} == {0, 1, 3}


def test_missing_query_id_raises_clear_error(spark, embeddings):
    from whatsapp_vectordb_spark.operators.ann import portable_lsh_topk

    with pytest.raises(ValueError, match="not found in index"):
        portable_lsh_topk(embeddings, query_id=99999999, k=5).collect()


def test_empty_index_dim_inference_raises_clear_error(spark, embeddings):
    from whatsapp_vectordb_spark.operators.ann import portable_lsh_topk

    empty = embeddings.where(F.lit(False))
    with pytest.raises(ValueError, match="cannot infer vector dimension"):
        portable_lsh_topk(empty, query_id=0, k=5)


def test_dim_param_skips_head_probe(spark, embeddings):
    """With dim passed from the index registry, building the probe plan must
    not run a scan-first-row driver job (or any job)."""
    from whatsapp_vectordb_spark.operators.ann import portable_lsh_topk_batched

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    df = portable_lsh_topk_batched(embeddings, query_ids=[0, 1], k=5, dim=64)
    after = len(tracker.getJobIdsForGroup(None))
    assert after == before
    assert df.columns == ["query_id", "vec_id", "score", "rank"]


def test_ivf_incremental_add_and_drift(spark, embeddings, tmp_path):
    from whatsapp_vectordb_spark.operators.ann import IvfIndex

    emb = embeddings.select("vec_id", "embedding")
    idx = IvfIndex.build(emb, n_centroids=4)
    idx.save(str(tmp_path / "ivf"))
    n0 = idx.assigned.count()
    # drift right after build: the frozen-quantizer argmin agrees with the
    # k-means model's own assignment
    assert idx.drift() == 0.0

    # add copies of existing vectors under new ids: they must land in the
    # same cells as their originals, and a probe must find them
    batch = emb.limit(40).select(
        (F.col("vec_id") + 5000000).alias("vec_id"), "embedding"
    )
    idx.add_batch(batch, path=str(tmp_path / "ivf"))
    assert idx.assigned.count() == n0 + 40
    orig = {r["vec_id"]: r["centroid"] for r in idx.assigned.where(F.col("vec_id") < 5000000).collect()}
    added = {r["vec_id"] - 5000000: r["centroid"] for r in idx.assigned.where(F.col("vec_id") >= 5000000).collect()}
    assert all(orig[k] == v for k, v in added.items())
    # duplicate vectors can't disagree with their own nearest centroid
    assert idx.drift() == 0.0

    qrow = emb.where(F.col("vec_id") == 5).head()
    top = IvfIndex.load(spark, str(tmp_path / "ivf")).probe(qrow["embedding"], k=2, nprobe=1).collect()
    assert {r["vec_id"] for r in top} == {5, 5000005}  # self + its added copy


def test_pq_adc_recall_and_codes(spark, embeddings):
    from whatsapp_vectordb_spark.operators.ann import PqIndex

    emb = embeddings.select("vec_id", "embedding")
    # plant exact duplicates: identical vectors must get identical codes,
    # hence identical ADC scores — the invariant 32x compression keeps
    dupes = emb.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(dupes)
    idx = PqIndex.build(corpus, m=8, ksub=16, sample_rows=400, seed=0)
    enc = idx.encode(corpus).cache()
    row = enc.head()
    assert len(row["codes"]) == 8
    assert all(0 <= c < 16 for c in row["codes"])

    qrow = emb.where(F.col("vec_id") == 0).head()
    approx_rows = idx.adc_topk(enc, qrow["embedding"], k=10).collect()
    approx = [r["vec_id"] for r in approx_rows]
    scores = {r["vec_id"]: r["score"] for r in approx_rows}
    # self and its planted copy share codes -> both in top-10, equal scores
    assert 0 in approx and 1000000 in approx
    assert scores[0] == scores[1000000]
    assert approx[0] == 0  # id-ascending tiebreak on the equal pair
    # the random fixture has no neighborhood structure, so tail recall is
    # inherently weak; determinism is the other hard invariant
    again = [r["vec_id"] for r in idx.adc_topk(enc, qrow["embedding"], k=10).collect()]
    assert approx == again
    enc.unpersist()


def test_ivfpq_probe_prunes_cell_partitions(spark, embeddings, tmp_path):
    """The saved IVF-PQ layout must answer probes with file-level
    partition pruning (PartitionFilters on centroid) and return the
    query's own quantized codes first."""
    import os

    from whatsapp_vectordb_spark.operators.ann import IvfIndex, PqIndex, ivfpq_topk

    emb = embeddings.select("vec_id", "embedding")
    ivf = IvfIndex.build(emb, n_centroids=4)
    pq = PqIndex.build(emb, m=8, ksub=16, sample_rows=300, seed=0)
    cells = pq.encode(emb).join(ivf.assigned.select("vec_id", "centroid"), "vec_id")
    path = os.path.join(str(tmp_path), "cells")
    cells.write.partitionBy("centroid").mode("overwrite").parquet(path)
    stored = spark.read.parquet(path)

    qrow = emb.where(F.col("vec_id") == 7).head()
    out = ivfpq_topk(ivf, pq, stored, qrow["embedding"], k=5, nprobe=1)
    p = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in p and "centroid" in p.split("PartitionFilters", 1)[1][:200]
    assert out.collect()[0]["vec_id"] == 7


def test_ivfpq_residual_identical_vectors_tie_and_self_first(spark, embeddings):
    from whatsapp_vectordb_spark.operators.ann import IvfPqResidualIndex

    emb = embeddings.select("vec_id", "embedding")
    dupes = emb.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(dupes)
    idx = IvfPqResidualIndex.build(corpus, n_centroids=4, m=8, ksub=16, sample_rows=300)
    enc = idx.encode(corpus).cache()
    qrow = emb.where(F.col("vec_id") == 0).head()
    out = idx.probe(enc, qrow["embedding"], k=10, nprobe=4).collect()
    got = [r["vec_id"] for r in out]
    scores = {r["vec_id"]: r["score"] for r in out}
    # identical vectors share cell + residual codes: both found, equal
    # integer distances, id-ascending order between them
    assert 0 in got and 1000000 in got
    assert scores[0] == scores[1000000]
    assert got[0] == 0  # self (and its copy) at minimal distance
    enc.unpersist()


def test_opq_rotation_not_worse_than_pq(spark, embeddings):
    """OPQ minimizes PQ's objective over an extra orthogonal rotation, so
    its sample reconstruction error can't be meaningfully worse; the
    rotation round-trips through save/load and the ADC probe still ranks
    the query's own vector first."""
    from whatsapp_vectordb_spark.operators.ann import OpqIndex, PqIndex

    import numpy as np

    emb = embeddings.select("vec_id", "embedding")
    pq = PqIndex.build(emb, m=8, ksub=16, sample_rows=400, seed=0)
    opq = OpqIndex.build(emb, m=8, ksub=16, sample_rows=400, seed=0, opq_iters=4)
    assert opq.quantization_mse(emb, 400) <= pq.quantization_mse(emb, 400) * 1.05
    # rotation is orthogonal
    r = opq.rotation
    assert np.allclose(r @ r.T, np.eye(r.shape[0]), atol=1e-8)


def test_opq_ivfpq_composition_self_probe(spark, embeddings):
    """The rotated residual index must behave like an ANN index: probing
    with a stored vector's own embedding puts that vector at/near the top
    of the probed cells' ranking, and scores are deterministic int64."""
    from whatsapp_vectordb_spark.operators.ann import OpqIvfPqIndex

    emb = embeddings.select("vec_id", "embedding")
    idx = OpqIvfPqIndex.build(
        emb, n_centroids=4, m=8, ksub=16, sample_rows=200, opq_iters=2
    )
    encoded = idx.encode(emb).cache()
    qvec = emb.where("vec_id = 3").head()["embedding"]
    top = idx.probe(encoded, qvec, k=5, nprobe=2).collect()
    assert 3 in [r["vec_id"] for r in top]
    again = idx.probe(encoded, qvec, k=5, nprobe=2).collect()
    assert [tuple(r) for r in top] == [tuple(r) for r in again]


def test_opq_rotation_is_orthogonal(spark, embeddings):
    import numpy as np

    from whatsapp_vectordb_spark.operators.ann import OpqIvfPqIndex

    idx = OpqIvfPqIndex.build(
        embeddings.select("vec_id", "embedding"),
        n_centroids=4, m=8, ksub=16, sample_rows=200, opq_iters=2,
    )
    r = idx.rotation
    assert np.allclose(r @ r.T, np.eye(r.shape[0]), atol=1e-8)


def test_kmeans_lloyd_converges_to_fixpoint(spark):
    # two tight blobs far apart -> 2-means must converge (movement 0)
    # within a few iterations, with each blob's points in one cell
    rows = []
    for i in range(20):
        rows.append((i, [10.0 + 0.001 * i, 0.0]))
    for i in range(20, 40):
        rows.append((i, [-10.0 - 0.001 * i, 0.0]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    from whatsapp_vectordb_spark.operators.ann import kmeans_lloyd

    cents, assigned, movement = kmeans_lloyd(df, k=2, iters=4)
    assert all(m == 0 for m in movement.values())  # fixpoint reached
    got = {r["vec_id"]: r["centroid"] for r in assigned.collect()}
    blob_a = {got[i] for i in range(20)}
    blob_b = {got[i] for i in range(20, 40)}
    assert len(blob_a) == 1 and len(blob_b) == 1 and blob_a != blob_b


def test_kmeans_lloyd_empty_cell_carries_forward(spark):
    # seeds 0 and 1 coincide; ties break to the LOWER centroid id, so in
    # iteration one EVERY point lands in cell 0 and cell 1 is empty — its
    # centroid must stay exactly at the quantized seed while centroid 0
    # moves to the mean
    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [0.1, 0.0]), (3, [0.2, 0.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    from whatsapp_vectordb_spark.operators.ann import kmeans_lloyd

    cents, assigned, movement = kmeans_lloyd(df, k=2, iters=1)
    by_id = dict(cents)
    assert by_id[1] == [0, 0]  # untouched quantized seed
    assert movement[1] == 0 and movement[0] > 0
    assert by_id[0] == [75000, 0]  # floor((0+0+100000+200000)/4 + 0.5)


def test_ivf_build_portable_full_probe_equals_exact(spark, embeddings):
    # the verifiable-build twin must behave like an IvfIndex: full-nprobe
    # probe == exact top-k, and the positional centroid remap must be
    # consistent between the centroid matrix and the assigned column
    from whatsapp_vectordb_spark.operators.ann import IvfIndex

    # shift ids so seeds are NOT 0..k-1 (exercises the remap)
    emb = embeddings.select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    qvec = emb.where(F.col("vec_id") == 1007).head()["embedding"]
    exact = [r["vec_id"] for r in topk(emb, qvec, k=10).collect()]
    ivf = IvfIndex.build_portable(emb, n_centroids=4, iters=2)
    assert ivf.centroids.shape == (4, 64)
    full = [r["vec_id"] for r in ivf.probe(qvec, k=10, nprobe=4).collect()]
    assert full == exact
    # pruning actually prunes: nprobe=1 scans one cell only
    one = ivf.probe(qvec, k=10, nprobe=1)
    assert one.count() <= emb.count()
    cells = {r["centroid"] for r in ivf.assigned.select("centroid").distinct().collect()}
    assert cells <= {0, 1, 2, 3}


def test_kmeans_mapside_bit_equal_to_portable(spark, embeddings):
    """The production map-side partial-sum update (one mapInPandas pass,
    k·d·partitions shuffle) must be BIT-identical to the engine-portable
    N·d join+groupBy path the SQL oracle replays — same centroids, same
    movement, same final assignment — on real embeddings, including an
    iteration count past the fixpoint (empty-cell carry-forward included)."""
    from whatsapp_vectordb_spark.operators.ann import kmeans_lloyd

    df = embeddings.select("vec_id", "embedding").limit(300)
    hist_p, hist_m = [], []
    cents_p, assigned_p, mov_p = kmeans_lloyd(
        df, k=5, iters=3, history=hist_p, update_mode="portable"
    )
    cents_m, assigned_m, mov_m = kmeans_lloyd(
        df, k=5, iters=3, history=hist_m, update_mode="mapside"
    )
    assert cents_p == cents_m
    assert mov_p == mov_m
    assert [(it, mv) for it, mv, _ in hist_p] == [(it, mv) for it, mv, _ in hist_m]
    ap = sorted(map(tuple, assigned_p.collect()))
    am = sorted(map(tuple, assigned_m.collect()))
    assert ap == am


def test_kmeans_mapside_empty_cell_carries_forward(spark):
    # the mapside twin of the portable empty-cell test: coincident seeds,
    # ties to lower id -> cell 1 empty, carried forward unchanged
    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [0.1, 0.0]), (3, [0.2, 0.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    from whatsapp_vectordb_spark.operators.ann import kmeans_lloyd

    cents, assigned, movement = kmeans_lloyd(df, k=2, iters=1, update_mode="mapside")
    by_id = dict(cents)
    assert by_id[1] == [0, 0]
    assert movement[1] == 0 and movement[0] > 0
    assert by_id[0] == [75000, 0]


def test_kmeans_mapside_null_rows_match_portable(spark):
    """A NULL-embedding row must be ignored by BOTH update paths (the
    portable posexplode of NULL yields zero rows; the mapside pass
    filters it) — identical centroids and movement on the dirty frame."""
    from whatsapp_vectordb_spark.operators.ann import kmeans_lloyd

    rows = [
        (0, [0.0, 0.0]),
        (1, [1.0, 1.0]),
        (2, None),
        (3, [0.2, 0.0]),
        (4, [0.9, 1.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents_p, _, mov_p = kmeans_lloyd(df, k=2, iters=2, update_mode="portable")
    cents_m, _, mov_m = kmeans_lloyd(df, k=2, iters=2, update_mode="mapside")
    assert cents_p == cents_m and mov_p == mov_m


def test_ivf_cell_stats_flags_degenerate_layout(spark, embeddings):
    """cell_stats is the mega-cell tripwire (BASELINE round 11: MLlib
    KMeans at 1M×1536 noise converges to one ~100% cell, making every
    probe a hidden full scan). A hand-built degenerate assignment must
    read max_share ≈ 1; a balanced one must not."""
    import numpy as np

    from whatsapp_vectordb_spark.operators.ann import IvfIndex

    n = embeddings.count()
    cents = np.zeros((4, 4))
    degenerate = IvfIndex(
        embeddings.select("vec_id", "embedding", F.lit(0).alias("centroid")),
        cents,
        "vec_id",
        "embedding",
    ).cell_stats()
    assert degenerate["nonempty"] == 1
    assert degenerate["max_share"] == 1.0
    assert degenerate["total"] == n

    balanced = IvfIndex(
        embeddings.select(
            "vec_id", "embedding", (F.col("vec_id") % 4).cast("int").alias("centroid")
        ),
        cents,
        "vec_id",
        "embedding",
    ).cell_stats()
    assert balanced["nonempty"] == 4
    assert balanced["max_share"] < 0.3
    assert abs(sum(balanced["top5_shares"]) - 1.0) < 1e-6


def test_ivf_build_balanced_falls_back_on_mega_cell(spark, embeddings, monkeypatch):
    """When the MLlib quantizer degenerates (one cell > max_share), the
    balanced builder must rebuild with the Lloyd quantizer; when the
    layout is fine it must keep the MLlib result untouched."""
    import numpy as np

    from whatsapp_vectordb_spark.operators.ann import IvfIndex

    degenerate = IvfIndex(
        embeddings.select("vec_id", "embedding", F.lit(0).alias("centroid")),
        np.zeros((8, 64)),
        "vec_id",
        "embedding",
    )
    monkeypatch.setattr(IvfIndex, "build", classmethod(lambda cls, df, **kw: degenerate))
    idx = IvfIndex.build_balanced(embeddings, n_centroids=8)
    stats = idx.cell_stats()
    assert stats["max_share"] <= 0.5  # rebuilt via build_portable
    assert stats["nonempty"] > 1

    # healthy path: build returns a balanced layout, no rebuild happens
    healthy = IvfIndex(
        embeddings.select(
            "vec_id", "embedding", (F.col("vec_id") % 8).cast("int").alias("centroid")
        ),
        np.zeros((8, 64)),
        "vec_id",
        "embedding",
    )
    monkeypatch.setattr(IvfIndex, "build", classmethod(lambda cls, df, **kw: healthy))
    assert IvfIndex.build_balanced(embeddings, n_centroids=8) is healthy


def test_sq8_integer_scores_match_numpy_reference(spark, embeddings):
    """The SQ8 integer ADC must equal a numpy transcription of the same
    min/delta + half-up rules exactly (not approximately — integers)."""
    import numpy as np

    from whatsapp_vectordb_spark.operators.ann import sq8_encode, sq8_topk, sq8_train

    emb = embeddings.select("vec_id", "embedding")
    mins, deltas = sq8_train(emb)
    rows = emb.collect()
    qvec = next(r["embedding"] for r in rows if r["vec_id"] == 0)

    mn = np.array(mins)
    dl = np.array(deltas)
    w = np.floor(np.array([float(q) for q in qvec]) * dl * 1_000_000_000 + 0.5).astype(
        np.int64
    )
    ref = {}
    for r in rows:
        x = np.array([float(v) for v in r["embedding"]])
        c = np.clip(np.floor((x - mn) / dl + 0.5), 0, 255).astype(np.int64)
        ref[r["vec_id"]] = int((c * w).sum())

    got = sq8_topk(sq8_encode(emb, mins, deltas), qvec, deltas, k=10).collect()
    for r in got:
        assert r["score_int"] == ref[r["vec_id"]]
    # and the ranking is the reference ranking
    ref_top = sorted(ref, key=lambda i: (-ref[i], i))[:10]
    assert [r["vec_id"] for r in got] == ref_top


def test_sq8_recall_vs_exact_dot(spark, embeddings):
    """8 bits/dim keeps enough fidelity that SQ8 top-10 by (rank-shifted)
    dot product recovers most of the exact dot-product top-10."""
    from whatsapp_vectordb_spark.functions.vector import dot_product
    from whatsapp_vectordb_spark.operators.ann import sq8_encode, sq8_topk, sq8_train

    emb = embeddings.select("vec_id", "embedding")
    mins, deltas = sq8_train(emb)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    approx = [
        r["vec_id"]
        for r in sq8_topk(sq8_encode(emb, mins, deltas), qvec, deltas, k=10).collect()
    ]
    q = F.array(*[F.lit(float(v)) for v in qvec])
    exact = [
        r["vec_id"]
        for r in emb.select("vec_id", dot_product("embedding", q).alias("s"))
        .orderBy(F.col("s").desc(), F.col("vec_id"))
        .limit(10)
        .collect()
    ]
    assert len(set(approx) & set(exact)) >= 8
    assert approx[0] == 0  # the query vector itself ranks first


def test_sq8_constant_dimension_is_safe(spark):
    from whatsapp_vectordb_spark.operators.ann import sq8_encode, sq8_train

    df = spark.createDataFrame(
        [(1, [1.0, 5.0]), (2, [1.0, 7.0]), (3, [1.0, 6.0])],
        "vec_id long, embedding array<float>",
    )
    mins, deltas = sq8_train(df)
    assert deltas[0] == 1.0  # constant dim: delta pinned, no div-by-zero
    codes = {r["vec_id"]: r["sq8_codes"] for r in sq8_encode(df, mins, deltas).collect()}
    assert all(c[0] == 0 for c in codes.values())  # constant dim codes to 0
    assert codes[1][1] == 0 and codes[2][1] == 255  # full range used


def test_sq8_numpy_impl_matches_expr_impl(spark, embeddings):
    """Both SQ8 scoring paths are exact int64 arithmetic — results must be
    identical rows, not merely close."""
    from whatsapp_vectordb_spark.operators.ann import sq8_encode, sq8_topk, sq8_train

    emb = embeddings.select("vec_id", "embedding")
    mins, deltas = sq8_train(emb)
    qvec = emb.where(F.col("vec_id") == 7).head()["embedding"]
    codes = sq8_encode(emb, mins, deltas)
    expr_rows = [
        (r["vec_id"], r["score_int"])
        for r in sq8_topk(codes, qvec, deltas, k=10, impl="expr").collect()
    ]
    np_rows = [
        (r["vec_id"], r["score_int"])
        for r in sq8_topk(codes, qvec, deltas, k=10, impl="numpy").collect()
    ]
    assert expr_rows == np_rows


def test_sq8_euclidean_recall_and_self_first(spark, embeddings):
    """SQ8 euclidean ranking must recover the exact squared-L2 top-10 at
    8-bit fidelity; the query vector itself (distance 0) ranks first."""
    from whatsapp_vectordb_spark.functions.vector import euclidean_distance
    from whatsapp_vectordb_spark.operators.ann import (
        sq8_encode,
        sq8_topk_euclidean,
        sq8_train,
    )

    emb = embeddings.select("vec_id", "embedding")
    mins, deltas = sq8_train(emb)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    approx = [
        r["vec_id"]
        for r in sq8_topk_euclidean(
            sq8_encode(emb, mins, deltas), qvec, mins, deltas, k=10
        ).collect()
    ]
    q = F.array(*[F.lit(float(v)) for v in qvec])
    exact = [
        r["vec_id"]
        for r in emb.select("vec_id", euclidean_distance("embedding", q).alias("dist"))
        .orderBy(F.col("dist").asc(), F.col("vec_id"))
        .limit(10)
        .collect()
    ]
    assert approx[0] == 0
    assert len(set(approx) & set(exact)) >= 8


def test_sq8_cosine_recall_scale_invariance_and_zero_query(spark, embeddings):
    """SQ8 cosine (normalize-at-encode): top-10 recovers most of the exact
    cosine top-10; scaling the query by an exact power of two changes
    NOTHING (bit-identical scores — q/‖q‖ is scale-free); both impls
    agree exactly; a zero query is rejected."""
    import pytest as _pt

    from whatsapp_vectordb_spark.functions.vector import (
        cosine_similarity,
        l2_normalize,
    )
    from whatsapp_vectordb_spark.operators.ann import (
        sq8_encode,
        sq8_topk_cosine,
        sq8_train,
    )

    emb = embeddings.select("vec_id", "embedding")
    embn = emb.select("vec_id", l2_normalize("embedding").alias("embedding"))
    mins, deltas = sq8_train(embn)
    codes = sq8_encode(embn, mins, deltas)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]

    got = [
        (r["vec_id"], r["score_int"])
        for r in sq8_topk_cosine(codes, qvec, deltas, k=10).collect()
    ]
    approx = [v for v, _ in got]
    q = F.array(*[F.lit(float(v)) for v in qvec])
    exact = [
        r["vec_id"]
        for r in emb.select(
            "vec_id", cosine_similarity("embedding", q).alias("s")
        )
        .orderBy(F.col("s").desc(), F.col("vec_id"))
        .limit(10)
        .collect()
    ]
    assert len(set(approx) & set(exact)) >= 8
    assert approx[0] == 0  # the query vector itself: cosine 1.0

    # power-of-two query scaling is exactly invisible after normalization
    scaled = [
        (r["vec_id"], r["score_int"])
        for r in sq8_topk_cosine(
            codes, [4.0 * float(v) for v in qvec], deltas, k=10
        ).collect()
    ]
    assert scaled == got

    np_rows = [
        (r["vec_id"], r["score_int"])
        for r in sq8_topk_cosine(codes, qvec, deltas, k=10, impl="numpy").collect()
    ]
    assert np_rows == got

    with _pt.raises(ValueError):
        sq8_topk_cosine(codes, [0.0] * len(qvec), deltas, k=10)


def test_sq8_euclidean_numpy_impl_matches_expr_impl(spark, embeddings):
    """Euclidean twin of the dot-path parity test: both impls are exact
    int64 arithmetic — identical rows, not merely close."""
    from whatsapp_vectordb_spark.operators.ann import (
        sq8_encode,
        sq8_topk_euclidean,
        sq8_train,
    )

    emb = embeddings.select("vec_id", "embedding")
    mins, deltas = sq8_train(emb)
    qvec = emb.where(F.col("vec_id") == 7).head()["embedding"]
    codes = sq8_encode(emb, mins, deltas)
    expr_rows = [
        (r["vec_id"], r["score_int"])
        for r in sq8_topk_euclidean(
            codes, qvec, mins, deltas, k=10, impl="expr"
        ).collect()
    ]
    np_rows = [
        (r["vec_id"], r["score_int"])
        for r in sq8_topk_euclidean(
            codes, qvec, mins, deltas, k=10, impl="numpy"
        ).collect()
    ]
    assert expr_rows == np_rows and len(expr_rows) == 10


def _sq8_reference(df, vec_col: str = "embedding"):
    """The SQ8 scaler from a plain Spark aggregate over the collected
    dimensions: per-dimension ``F.min``/``F.max`` over a posexplode
    (Spark's NaN ordering), delta=(max-min)/255, constant or NaN dims
    delta=1.0."""
    rows = (
        df.select(F.posexplode(F.col(vec_col)).alias("d", "x"))
        .groupBy("d")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
        .orderBy("d")
        .collect()
    )
    mins = [r["mn"] for r in rows]
    deltas = [(r["mx"] - r["mn"]) / 255.0 if r["mx"] > r["mn"] else 1.0 for r in rows]
    return mins, deltas


def test_sq8_train_numpy_impl_is_bit_identical(spark, embeddings):
    """The Arrow train pass must produce the SAME mins/deltas as a Spark
    min/max aggregate — min/max are exact under any association, so
    this is equality, not tolerance. Includes a constant dim."""
    from whatsapp_vectordb_spark.operators.ann import sq8_train

    emb = embeddings.select("vec_id", "embedding")
    assert sq8_train(emb) == _sq8_reference(emb)

    df = spark.createDataFrame(
        [(1, [1.0, 5.0]), (2, [1.0, 7.0]), (3, [1.0, 6.0])],
        "vec_id long, embedding array<float>",
    ).repartition(3)
    assert sq8_train(df) == _sq8_reference(df) == ([1.0, 5.0], [1.0, 2.0 / 255.0])


def test_sq8_train_numpy_matches_spark_nan_semantics(spark):
    """ADVICE r12: Spark orders NaN ABOVE every double, so F.min skips a
    NaN (returns the smallest real value) while F.max returns NaN when
    one is present; plain numpy min/max would propagate NaN to both
    sides. The Arrow pass must match the Spark aggregate on dirty
    vectors too — dim 0 has one NaN (min real, max NaN → delta falls
    back to 1.0), dim 1 is clean, dim 2 is all-NaN (both sides NaN)."""
    import math

    from whatsapp_vectordb_spark.operators.ann import sq8_train

    nan = float("nan")
    df = spark.createDataFrame(
        [(1, [2.0, 10.0, nan]), (2, [nan, 30.0, nan]), (3, [5.0, 20.0, nan])],
        "vec_id long, embedding array<double>",
    ).repartition(3)

    def norm(t):  # NaN != NaN, so compare via a token
        return [["NaN" if isinstance(v, float) and math.isnan(v) else v for v in side] for side in t]

    got = sq8_train(df)
    assert norm(got) == norm(_sq8_reference(df))
    assert norm(got) == [[2.0, 10.0, "NaN"], [1.0, 20.0 / 255.0, 1.0]]


def test_sq8_train_skips_null_vectors(spark):
    """The embedder emits NULL for empty or tokenless text: the train
    pass — and the build's fused train + cell-count pass it shares —
    skips such rows, as the Spark aggregate does."""
    from whatsapp_vectordb_spark.operators.ann import _sq8_train_cell_counts, sq8_train

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.5, 2.0])],
        "vec_id long, embedding array<double>",
    ).repartition(2)
    expected = ([0.5, 0.0], [0.5 / 255.0, 2.0 / 255.0])
    assert sq8_train(df) == _sq8_reference(df) == expected
    cells = df.withColumn("centroid", F.col("vec_id").cast("int"))
    assert _sq8_train_cell_counts(cells, "embedding", 3) == (*expected, [1, 0, 1])


def test_sq8_train_numpy_empty_and_ivf_sq8_no_cells_guard(spark, embeddings):
    """Edge contracts: the Arrow train pass returns ([], []) on an empty
    frame, as the Spark aggregate does; an empty probe-cell list raises
    instead of silently returning zero rows."""
    import pytest as _pt

    from whatsapp_vectordb_spark.operators.ann import (
        ivf_sq8_topk,
        sq8_encode,
        sq8_train,
    )

    emb = embeddings.select("vec_id", "embedding")
    empty = emb.where("vec_id < 0")
    assert sq8_train(empty) == _sq8_reference(empty) == ([], [])

    mins, deltas = sq8_train(emb)
    codes = sq8_encode(emb, mins, deltas).withColumn("centroid", F.lit(0))
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    with _pt.raises(ValueError):
        ivf_sq8_topk(codes, [], qvec, deltas, k=5)


def test_sq8_rerank_covering_shortlist_equals_exact_scan(spark, embeddings):
    """With a covering shortlist the two-stage result must equal the full
    exact scan BIT-FOR-BIT (same ids, same rounded scores); with the
    production shortlist it must still place the query vector first and
    emit exact-domain scores."""
    from whatsapp_vectordb_spark.operators.ann import (
        sq8_encode,
        sq8_rerank_topk,
        sq8_train,
    )
    from whatsapp_vectordb_spark.operators.search import topk

    emb = embeddings.select("vec_id", "embedding")
    mins, deltas = sq8_train(emb)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    codes = sq8_encode(emb, mins, deltas)

    n = emb.count()
    covering = [
        (r["vec_id"], r["score"])
        for r in sq8_rerank_topk(
            codes, emb, qvec, deltas, k=10, shortlist=n
        ).collect()
    ]
    exact = [
        (r["vec_id"], r["score"])
        for r in topk(emb, qvec, k=10, metric="dotproduct", round_to=6).collect()
    ]
    assert covering == exact

    prod = [
        (r["vec_id"], r["score"])
        for r in sq8_rerank_topk(
            codes, emb, qvec, deltas, k=10, shortlist=100
        ).collect()
    ]
    assert prod[0][0] == 0  # the query vector itself survives both stages
    assert len(set(v for v, _ in prod) & set(v for v, _ in exact)) >= 8
    # scores come from the EXACT stage (float domain), not score_int
    assert all(isinstance(s, float) for _, s in prod)


def test_ivf_sq8_rerank_all_cells_covering_equals_exact(spark, embeddings):
    """The composed prune→shortlist→re-rank stack with ALL cells probed
    and a covering shortlist must equal the full exact scan bit-for-bit
    — both approximations removed, the plumbing contributes zero error."""
    from whatsapp_vectordb_spark.operators.ann import (
        ivf_sq8_rerank_topk,
        kmeans_lloyd,
        sq8_encode,
        sq8_train,
    )
    from whatsapp_vectordb_spark.operators.search import topk

    emb = embeddings.select("vec_id", "embedding")
    _, assigned, _ = kmeans_lloyd(emb, k=4, iters=1, update_mode="portable")
    mins, deltas = sq8_train(emb)
    codes = sq8_encode(emb, mins, deltas).join(
        assigned.select("vec_id", "centroid"), "vec_id"
    )
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    n = emb.count()
    got = [
        (r["vec_id"], r["score"])
        for r in ivf_sq8_rerank_topk(
            codes, emb, [0, 1, 2, 3], qvec, deltas, k=10, shortlist=n
        ).collect()
    ]
    exact = [
        (r["vec_id"], r["score"])
        for r in topk(emb, qvec, k=10, metric="dotproduct", round_to=6).collect()
    ]
    assert got == exact

    import pytest as _pt

    with _pt.raises(ValueError):
        ivf_sq8_rerank_topk(codes, emb, [], qvec, deltas, k=10)


def test_ivf_sq8_batched_matches_per_query_probes(spark, embeddings):
    """Each query's rows from the ONE-scan batched probe must equal its
    separate ``ivf_sq8_topk`` call bit-for-bit — same ids, same exact
    int64 ADC scores, same tie order."""
    from whatsapp_vectordb_spark.operators.ann import (
        ivf_sq8_batched_topk,
        ivf_sq8_topk,
        kmeans_lloyd,
        sq8_encode,
        sq8_train,
    )

    emb = embeddings.select("vec_id", "embedding")
    _, assigned, _ = kmeans_lloyd(emb, k=4, iters=1, update_mode="portable")
    mins, deltas = sq8_train(emb)
    codes = sq8_encode(emb, mins, deltas).join(
        assigned.select("vec_id", "centroid"), "vec_id"
    )
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.where(F.col("vec_id").isin(0, 1, 2)).collect()
    ]
    probe_map = {0: [0, 1], 1: [1, 2], 2: [0, 3]}

    batched = ivf_sq8_batched_topk(codes, queries, probe_map, deltas, k=5)
    rows = batched.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["score_int"]))
    for qid in by_q:  # canonical (score desc, id asc) order per query
        by_q[qid].sort(key=lambda t: (-t[1], t[0]))

    for qid, vec in queries:
        solo = [
            (r["vec_id"], r["score_int"])
            for r in ivf_sq8_topk(
                codes, probe_map[qid], vec, deltas, k=5
            ).collect()
        ]
        assert by_q[qid] == solo, f"query {qid} diverged"

    import pytest as _pt

    with _pt.raises(ValueError):
        ivf_sq8_batched_topk(codes, queries, {}, deltas, k=5)

    # the Arrow matmul kernel is bit-identical to the expr HOF (both are
    # exact int64), per query including tie order
    np_rows = ivf_sq8_batched_topk(
        codes, queries, probe_map, deltas, k=5, impl="numpy"
    ).collect()
    np_by_q = {}
    for r in np_rows:
        np_by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["score_int"]))
    for qid in np_by_q:
        np_by_q[qid].sort(key=lambda t: (-t[1], t[0]))
    assert np_by_q == by_q


def test_ivfpq_batched_matches_per_query_probes(spark, embeddings):
    """Each query's rows from the ONE-scan batched IVF-PQ probe must
    equal its separate raw-ADC ``ivfpq_topk(index_df=None)`` call
    bit-for-bit — same ids, same exact int64 LUT sums, same tie order;
    and the numpy gather kernel must match the expr HOF exactly."""
    from whatsapp_vectordb_spark.operators.ann import (
        IvfIndex,
        PqIndex,
        ivfpq_batched_topk,
        ivfpq_topk,
    )

    emb = embeddings.select("vec_id", "embedding")
    ivf = IvfIndex.build_balanced(emb, n_centroids=4)
    pq = PqIndex.build(emb, m=8, ksub=16, sample_rows=500, seed=0)
    codes = pq.encode(emb).join(ivf.assigned.select("vec_id", "centroid"), "vec_id")
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.where(F.col("vec_id").isin(0, 1, 2)).collect()
    ]
    probe_map = {qid: ivf.probe_centroid_ids(vec, nprobe=2) for qid, vec in queries}

    def by_query(rows):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append((r["vec_id"], r["score_int"]))
        for qid in out:  # canonical (score desc, id asc) order per query
            out[qid].sort(key=lambda t: (-t[1], t[0]))
        return out

    batched = by_query(
        ivfpq_batched_topk(pq, codes, queries, probe_map, k=5).collect()
    )
    for qid, vec in queries:
        solo = [
            (r["vec_id"], r["score"])
            for r in ivfpq_topk(
                ivf, pq, codes, vec, k=5, nprobe=2, index_df=None
            ).collect()
        ]
        assert batched[qid] == solo, f"query {qid} diverged"

    np_batched = by_query(
        ivfpq_batched_topk(pq, codes, queries, probe_map, k=5, impl="numpy").collect()
    )
    assert np_batched == batched

    import pytest as _pt

    with _pt.raises(ValueError):
        ivfpq_batched_topk(pq, codes, queries, {}, k=5)


def test_ivf_sq8_index_roundtrip_and_search(spark, embeddings, tmp_path):
    """The persisted composite serving artifact: build → save → load
    must preserve the scaler/centroids exactly; a loaded ``search``
    with all cells probed and a covering shortlist equals the exact
    scan; ``probe`` on the loaded layout equals the inline operator;
    frozen-quantizer ``add_batch`` makes new vectors findable."""
    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index, ivf_sq8_topk
    from whatsapp_vectordb_spark.operators.search import topk

    emb = embeddings.select("vec_id", "embedding")
    idx = IvfSq8Index.build(emb, n_centroids=4)
    st = idx.cell_stats()
    # not a mega-cell scan-in-disguise (the build_balanced tripwire)
    assert st["max_share"] < 0.9 and st["nonempty"] >= 2

    path = str(tmp_path / "ivf_sq8_idx")
    idx.save(path)
    loaded = IvfSq8Index.load(spark, path)
    assert loaded.mins == idx.mins and loaded.deltas == idx.deltas
    assert (loaded.centroids == idx.centroids).all()

    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    n = emb.count()
    got = [
        (r["vec_id"], r["score"])
        for r in loaded.search(
            emb, qvec, k=10, nprobe=4, shortlist=n
        ).collect()
    ]
    exact = [
        (r["vec_id"], r["score"])
        for r in topk(emb, qvec, k=10, metric="dotproduct", round_to=6).collect()
    ]
    assert got == exact

    # probe (quantized domain) on the LOADED layout == the inline operator
    cells = loaded.probe_centroid_ids(qvec, nprobe=2)
    via_idx = [(r["vec_id"], r["score_int"]) for r in loaded.probe(qvec, k=5).collect()]
    via_op = [
        (r["vec_id"], r["score_int"])
        for r in ivf_sq8_topk(loaded.codes, cells, qvec, loaded.deltas, k=5).collect()
    ]
    assert via_idx == via_op

    # batched serving == per-query search, bit-for-bit
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.where(F.col("vec_id").isin(0, 1)).collect()
    ]
    brows = loaded.search_batched(emb, queries, k=5, nprobe=2, shortlist=20).collect()
    by_q = {}
    for r in brows:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    for qid in by_q:
        by_q[qid].sort(key=lambda t: (-t[1], t[0]))
    for qid, vec in queries:
        solo = [
            (r["vec_id"], r["score"])
            for r in loaded.search(emb, vec, k=5, nprobe=2, shortlist=20).collect()
        ]
        assert by_q[qid] == solo

    # frozen-quantizer ingest: an exact copy of vec 0 under a new id is
    # immediately findable at rank ≤2 (it ties the original exactly)
    copy = emb.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 90000).alias("vec_id"), "embedding"
    )
    loaded.add_batch(copy, path=path)
    re = IvfSq8Index.load(spark, path)  # the append landed on disk too
    ids = [r["vec_id"] for r in re.search(
        emb.unionByName(copy), qvec, k=3, nprobe=2, shortlist=50
    ).collect()]
    assert 90000 in ids[:2]


def test_ivf_sq8_index_colocated_vectors(spark, embeddings, tmp_path):
    """save(store_vectors=True) persists the co-located float store; a
    loaded index then serves search/search_batched with NO external
    table, the float side pruned to the probed cells — results equal the
    explicit-vectors_df path exactly (the shortlist is a subset of the
    probed cells, so pruning is lossless), and the pruned float scan
    carries PartitionFilters."""
    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "ivf_sq8_colo")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)
    loaded = IvfSq8Index.load(spark, path)
    assert loaded.vectors is not None

    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    colo = [
        (r["vec_id"], r["score"])
        for r in loaded.search(query_vec=qvec, k=5, nprobe=2, shortlist=20).collect()
    ]
    explicit = [
        (r["vec_id"], r["score"])
        for r in loaded.search(emb, qvec, k=5, nprobe=2, shortlist=20).collect()
    ]
    assert colo == explicit and len(colo) == 5

    # the pruned float side reaches the vectors scan as PartitionFilters
    cells = loaded.probe_centroid_ids(qvec, nprobe=2)
    side = loaded._rerank_side(None, cells)
    em = side.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    p = side._jdf.queryExecution().explainString(em)
    assert "PartitionFilters" in p and "centroid" in p

    # batched: co-located == explicit, per query
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.where(F.col("vec_id").isin(0, 1)).collect()
    ]
    b_colo = {
        (r["query_id"], r["vec_id"], r["score"])
        for r in loaded.search_batched(
            queries=queries, k=3, nprobe=2, shortlist=15
        ).collect()
    }
    b_exp = {
        (r["query_id"], r["vec_id"], r["score"])
        for r in loaded.search_batched(
            emb, queries, k=3, nprobe=2, shortlist=15
        ).collect()
    }
    assert b_colo == b_exp and len(b_colo) == 6


def test_ivf_sq8_batched_rerank_covering_equals_per_query_exact(spark, embeddings):
    """The batched two-stage pipeline with ALL cells probed and a
    covering shortlist must equal each query's full exact scan
    bit-for-bit — both approximations removed per query, the batching
    plumbing contributes zero error."""
    from whatsapp_vectordb_spark.operators.ann import (
        ivf_sq8_batched_rerank_topk,
        kmeans_lloyd,
        sq8_encode,
        sq8_train,
    )
    from whatsapp_vectordb_spark.operators.search import topk

    emb = embeddings.select("vec_id", "embedding")
    _, assigned, _ = kmeans_lloyd(emb, k=4, iters=1, update_mode="portable")
    mins, deltas = sq8_train(emb)
    codes = sq8_encode(emb, mins, deltas).join(
        assigned.select("vec_id", "centroid"), "vec_id"
    )
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.where(F.col("vec_id").isin(0, 1, 2)).collect()
    ]
    all_cells = [0, 1, 2, 3]
    probe_map = {qid: all_cells for qid, _ in queries}
    n = emb.count()

    rows = ivf_sq8_batched_rerank_topk(
        codes, emb, queries, probe_map, deltas, k=5, shortlist=n
    ).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    for qid in by_q:
        by_q[qid].sort(key=lambda t: (-t[1], t[0]))

    for qid, vec in queries:
        exact = [
            (r["vec_id"], r["score"])
            for r in topk(
                emb, vec, k=5, metric="dotproduct", round_to=6
            ).collect()
        ]
        assert by_q[qid] == exact, f"query {qid} diverged"


def test_ivf_sq8_index_atomic_save_and_batch_commit(spark, embeddings, tmp_path, monkeypatch):
    """ADVICE r13: (a) an interrupted save never leaves new codes paired
    with a stale scaler — the commit removes the old meta.json FIRST and
    publishes the new one LAST via rename, so the crash window is LOUDLY
    unreadable, not silently mis-scored; (b) add_batch(path=...) commits
    codes + co-located vectors with ONE rename — a crash stages nothing
    visible, so re-rank can never silently drop shortlisted ids whose
    floats were missing; (c) save folds accumulated batch dirs back into
    the base layout (compaction)."""
    import os

    import pytest

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "ivf_sq8_atomic")
    idx = IvfSq8Index.build(emb, n_centroids=4)
    idx.save(path, store_vectors=True)
    loaded = IvfSq8Index.load(spark, path)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    before = [
        (r["vec_id"], r["score"])
        for r in loaded.search(query_vec=qvec, k=5, nprobe=2, shortlist=20).collect()
    ]

    # (b) crash mid-add_batch: the staged dir never becomes visible and a
    # reload serves exactly the pre-crash results
    copy = emb.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 90000).alias("vec_id"), "embedding"
    )
    real_rename = os.rename

    def boom(src, dst):
        raise OSError("simulated crash before batch commit rename")

    monkeypatch.setattr(os, "rename", boom)
    with pytest.raises(OSError):
        IvfSq8Index.load(spark, path).add_batch(copy, path=path)
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.isdir(os.path.join(path, "batches")) or not os.listdir(
        os.path.join(path, "batches")
    )
    after_crash = IvfSq8Index.load(spark, path)
    got = [
        (r["vec_id"], r["score"])
        for r in after_crash.search(
            query_vec=qvec, k=5, nprobe=2, shortlist=20
        ).collect()
    ]
    assert got == before
    # the orphaned staging dir is swept by the next successful commit
    after_crash.add_batch(copy, path=path)
    assert os.listdir(os.path.join(path, "_staging")) == []
    # committed batch dir holds BOTH tables (codes + colocated floats)
    (bdir,) = os.listdir(os.path.join(path, "batches"))
    sub = sorted(os.listdir(os.path.join(path, "batches", bdir)))
    assert sub == ["codes", "vectors"]
    # a reload sees the appended vector — co-located re-rank included
    re = IvfSq8Index.load(spark, path)
    ids = [
        r["vec_id"]
        for r in re.search(query_vec=qvec, k=3, nprobe=2, shortlist=50).collect()
    ]
    assert 90000 in ids[:2]

    # (c) save() compacts: batches fold into the base layout
    re.save(path, store_vectors=True)
    assert not os.path.isdir(os.path.join(path, "batches"))
    folded = IvfSq8Index.load(spark, path)
    ids2 = [
        r["vec_id"]
        for r in folded.search(query_vec=qvec, k=3, nprobe=2, shortlist=50).collect()
    ]
    assert ids2 == ids

    # (a) interrupted save: meta removed, rename blocked → loud error.
    # This targets the FULL rewrite's commit sequence — break the mirror
    # so save() can't take the bounded-fold no-op fast path (r16; the
    # bounded path's own crash contract is asserted in
    # test_save_fold_rewrites_only_touched_cells)
    folded._mirror_path = None

    def boom2(src, dst):
        # the PUBLISH rename only — the retention move of the old meta
        # into _retained/ precedes the loud window (r17)
        if dst == os.path.join(path, "meta.json"):
            raise OSError("simulated crash before meta publish")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", boom2)
    with pytest.raises(OSError):
        folded.save(path, store_vectors=True)
    monkeypatch.setattr(os, "rename", real_rename)
    with pytest.raises(RuntimeError, match="interrupted save"):
        IvfSq8Index.load(spark, path)


def test_batched_probes_duplicate_cells_are_deduped(spark, embeddings):
    """ADVICE r13: a repeated cell id in probe_map must not let one
    vec_id fill multiple top-k slots — results with duplicated cells
    equal results with clean cells, bit-for-bit, in both kernels and
    both operators (SQ8 + PQ)."""
    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        PqIndex,
        assign_nearest_centroid,
        ivf_sq8_batched_topk,
        ivfpq_batched_topk,
    )

    emb = embeddings.select("vec_id", "embedding")
    idx = IvfSq8Index.build(emb, n_centroids=4)
    rows = emb.where(F.col("vec_id").isin(0, 1)).collect()
    queries = [(r["vec_id"], r["embedding"]) for r in rows]
    clean = {qid: idx.probe_centroid_ids(vec, 2) for qid, vec in queries}
    dirty = {qid: cells + cells + [cells[0]] for qid, cells in clean.items()}

    for impl in ("expr", "numpy"):
        want = sorted(
            map(tuple, ivf_sq8_batched_topk(
                idx.codes, queries, clean, idx.deltas, k=5, impl=impl
            ).collect())
        )
        got = sorted(
            map(tuple, ivf_sq8_batched_topk(
                idx.codes, queries, dirty, idx.deltas, k=5, impl=impl
            ).collect())
        )
        assert got == want, impl
        # non-vacuous: each query yields 5 DISTINCT ids
        per_q = {}
        for qid, vid, _ in got:
            per_q.setdefault(qid, []).append(vid)
        for qid, vids in per_q.items():
            assert len(vids) == len(set(vids)) == 5

    pq = PqIndex.build(emb, m=4, ksub=16)
    assigned = pq.encode(emb).join(
        assign_nearest_centroid(emb, idx.centroids, "embedding").select(
            "vec_id", "centroid"
        ),
        "vec_id",
    )
    for impl in ("expr", "numpy"):
        want = sorted(
            map(tuple, ivfpq_batched_topk(
                pq, assigned, queries, clean, k=5, impl=impl
            ).collect())
        )
        got = sorted(
            map(tuple, ivfpq_batched_topk(
                pq, assigned, queries, dirty, k=5, impl=impl
            ).collect())
        )
        assert got == want, impl


def test_semdedup_prunes_exact_copies_keeps_least_central(spark, embeddings):
    """SemDeDup invariants: (1) exact copies are always within-threshold,
    so each copy group loses all but one member; (2) no two KEPT rows in
    one cluster are within threshold of each other (the dominated one
    would have been removed); (3) the survivor of a tie group is the
    lowest id (exact copies share cent_sim, so id breaks the tie)."""
    from whatsapp_vectordb_spark.functions.vector import cosine_similarity
    from whatsapp_vectordb_spark.operators.ann import semdedup

    emb = embeddings.select("vec_id", "embedding")
    copies = emb.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    aug = emb.unionByName(copies).cache()
    out = semdedup(aug, n_clusters=8, threshold=0.95).cache()

    assert out.count() == aug.count()  # every row labeled, none dropped
    # each exact-copy pair lost its higher-id member (same vector ⇒ same
    # centroid + same cent_sim ⇒ id tiebreak removes the copy)
    copy_rows = {
        r["vec_id"]: r["kept"]
        for r in out.where(F.col("vec_id") >= 100_000).collect()
    }
    assert copy_rows and not any(copy_rows.values())
    originals = {
        r["vec_id"]: r["kept"]
        for r in out.where(
            (F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 100_000)
        ).collect()
    }
    # an original may itself be dominated by a natural near-dup, but the
    # copy group as a whole keeps EXACTLY one member unless a third row
    # dominated both — verify at least that not all originals died too
    assert any(originals.values())

    # no two kept rows within one cluster are within threshold
    kept = out.where("kept").join(aug, "vec_id").select(
        "vec_id", "centroid", "cent_sim", "embedding"
    )
    a, b = kept.alias("a"), kept.alias("b")
    viol = a.join(
        b,
        on=[
            F.col("a.centroid") == F.col("b.centroid"),
            F.col("a.vec_id") < F.col("b.vec_id"),
            F.round(cosine_similarity(F.col("a.embedding"), F.col("b.embedding")), 6)
            >= 0.95,
        ],
    ).count()
    assert viol == 0
    aug.unpersist()
    out.unpersist()


def test_semdedup_numpy_twin_matches_expr(spark, embeddings):
    """The at-scale blocked-matmul kernel elects exactly the same
    survivors as the SQL-parity expr join (same rounded scores, same
    (cent_sim, id) election), including with a small block size forcing
    the prefix blocking to engage."""
    from whatsapp_vectordb_spark.operators.ann import semdedup

    emb = embeddings.select("vec_id", "embedding")
    copies = emb.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    aug = emb.unionByName(copies).cache()
    want = {
        (r["vec_id"], r["centroid"], r["cent_sim"], r["kept"])
        for r in semdedup(aug, n_clusters=8, threshold=0.95, impl="expr").collect()
    }
    got = {
        (r["vec_id"], r["centroid"], r["cent_sim"], r["kept"])
        for r in semdedup(aug, n_clusters=8, threshold=0.95, impl="numpy").collect()
    }
    assert got == want
    assert any(not k for *_, k in got)  # non-vacuous: something was pruned
    aug.unpersist()


def test_ivf_sq8_index_empty_batch_and_preserving_save(spark, embeddings, tmp_path):
    """r14 review fixes: (a) add_batch with an empty batch commits
    nothing — a committed EMPTY partitioned dir would brick every later
    load() on schema inference; (b) save()'s default now PRESERVES the
    on-disk float store, so using save as the compaction verb cannot
    silently destroy co-located re-ranking."""
    import os

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "ivf_sq8_empty")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)

    loaded = IvfSq8Index.load(spark, path)
    loaded.add_batch(emb.where(F.col("vec_id") < 0), path=path)  # empty
    assert not os.path.isdir(os.path.join(path, "batches")) or not os.listdir(
        os.path.join(path, "batches")
    )
    IvfSq8Index.load(spark, path)  # must not raise

    # real batch, then DEFAULT save: the float store must survive
    copy = emb.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 90000).alias("vec_id"), "embedding"
    )
    loaded.add_batch(copy, path=path)
    IvfSq8Index.load(spark, path).save(path)  # store_vectors unspecified
    assert os.path.isdir(os.path.join(path, "vectors"))
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    ids = [
        r["vec_id"]
        for r in IvfSq8Index.load(spark, path)
        .search(query_vec=qvec, k=3, nprobe=2, shortlist=50)
        .collect()
    ]
    assert 90000 in ids[:2]  # co-located re-rank still serves the append


def test_ivf_sq8_save_dropping_store_clears_stale_vector_plans(
    spark, embeddings, tmp_path
):
    """ADVICE r14: save(store_vectors=False) on an index loaded WITH a
    float store deletes the vectors dirs — the in-memory handle must
    drop its lazy plans over them so the next co-located re-rank raises
    the operator's explicit error, not a task-level missing-path
    failure."""
    import os

    import pytest as _pytest

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "ivf_sq8_dropstore")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)
    loaded = IvfSq8Index.load(spark, path)
    assert loaded.vectors is not None

    loaded.save(path, store_vectors=False)
    assert not os.path.isdir(os.path.join(path, "vectors"))
    assert loaded.vectors is None
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    with _pytest.raises(ValueError, match="no co-located float store"):
        loaded.search(query_vec=qvec, k=3, nprobe=2, shortlist=50)


def test_ivfpq_index_roundtrip_ingest_and_search(spark, embeddings, tmp_path):
    """IvfPqIndex (r15): build → save → load → add_batch(path) →
    reload → serve. The ingested exact copy must carry identical
    residual codes (identical LUT-ADC score) and rank beside its
    original in both the quantized probe and the exact-re-rank search;
    interrupted-save detection mirrors the SQ8 contract."""
    import os

    import pytest as _pytest

    from whatsapp_vectordb_spark.operators.ann import IvfPqIndex

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "ivfpq_rt")
    IvfPqIndex.build(emb, n_centroids=4, m=8, ksub=16, sample_rows=500).save(path)
    copies = emb.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 90000).alias("vec_id"), "embedding"
    )
    IvfPqIndex.load(spark, path).add_batch(copies, path=path)
    reloaded = IvfPqIndex.load(spark, path)

    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    probe = reloaded.probe(qvec, k=3, nprobe=2).collect()
    assert {r["vec_id"] for r in probe[:2]} == {0, 90000}
    assert probe[0]["score"] == probe[1]["score"]  # identical codes

    res = reloaded.search(
        emb.unionByName(copies), qvec, k=3, nprobe=2, shortlist=50
    ).collect()
    assert {r["vec_id"] for r in res[:2]} == {0, 90000}
    assert res[0]["score"] == res[1]["score"]

    # empty batch commits nothing (a committed empty partitioned dir
    # would brick load's schema inference)
    n_batches = len(os.listdir(os.path.join(path, "batches")))
    reloaded.add_batch(emb.where(F.col("vec_id") < 0), path=path)
    assert len(os.listdir(os.path.join(path, "batches"))) == n_batches

    # interrupted save = loudly unreadable, never stale-codebook scoring
    os.remove(os.path.join(path, "meta.json"))
    with _pytest.raises(RuntimeError, match="interrupted save"):
        IvfPqIndex.load(spark, path)


def test_ivfpq_index_batched_probe_matches_per_query(spark, embeddings, tmp_path):
    """ivfpq_residual_batched_topk (r15): N queries through ONE pruned
    codes scan must equal N separate single-query probes bit-for-bit —
    same ascending int64 ADC distances, same id tiebreaks — and the
    plan must scan the codes layout exactly once with no cartesian."""
    from whatsapp_vectordb_spark.operators.ann import IvfPqIndex

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "ivfpq_batched")
    IvfPqIndex.build(emb, n_centroids=4, m=8, ksub=16, sample_rows=500).save(path)
    loaded = IvfPqIndex.load(spark, path)
    queries = [
        (int(r["vec_id"]), r["embedding"])
        for r in emb.where(F.col("vec_id") < 3).collect()
    ]
    batched = loaded.probe_batched(queries, k=5, nprobe=2).collect()
    got = {
        (r["query_id"], r["vec_id"], r["score"]) for r in batched
    }
    want = set()
    for qid, vec in queries:
        for r in loaded.probe(vec, k=5, nprobe=2).collect():
            want.add((qid, r["vec_id"], r["score"]))
    assert got == want

    from tests.test_plans import plan

    import re

    p = plan(loaded.probe_batched(queries, k=5, nprobe=2))
    assert "CartesianProduct" not in p
    # exactly ONE scan of the codes layout (count the detail headers,
    # the house convention), pruned, with the LUT table broadcast
    scans = re.findall(r"^\(\d+\) Scan parquet", p, flags=re.M)
    assert len(scans) == 1, p
    assert "PartitionFilters" in p and "BroadcastHashJoin" in p
    assert "embedding" not in p  # float vectors never load


def test_ivfpq_index_atomic_batch_commit_and_compaction(
    spark, embeddings, tmp_path, monkeypatch
):
    """IvfPqIndex twin of the SQ8 atomicity test: (a) a crash before the
    batch-commit rename stages nothing visible — a reload serves exactly
    the pre-crash results; (b) the next successful commit sweeps the
    orphaned staging dir and lands BOTH tables (codes + co-located
    floats) in one dir; (c) save() folds batch dirs back into the base
    layout and the co-located search still serves the append."""
    import os

    import pytest as _pytest

    from whatsapp_vectordb_spark.operators.ann import IvfPqIndex

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "ivfpq_atomic")
    IvfPqIndex.build(emb, n_centroids=4, m=8, ksub=16, sample_rows=500).save(
        path, store_vectors=True
    )
    loaded = IvfPqIndex.load(spark, path)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    before = [
        (r["vec_id"], r["score"])
        for r in loaded.search(query_vec=qvec, k=5, nprobe=2, shortlist=20).collect()
    ]

    copy = emb.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 90000).alias("vec_id"), "embedding"
    )
    real_rename = os.rename

    def boom(src, dst):
        raise OSError("simulated crash before batch commit rename")

    monkeypatch.setattr(os, "rename", boom)
    with _pytest.raises(OSError):
        IvfPqIndex.load(spark, path).add_batch(copy, path=path)
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.isdir(os.path.join(path, "batches")) or not os.listdir(
        os.path.join(path, "batches")
    )
    after_crash = IvfPqIndex.load(spark, path)
    got = [
        (r["vec_id"], r["score"])
        for r in after_crash.search(
            query_vec=qvec, k=5, nprobe=2, shortlist=20
        ).collect()
    ]
    assert got == before

    after_crash.add_batch(copy, path=path)
    assert os.listdir(os.path.join(path, "_staging")) == []
    (bdir,) = os.listdir(os.path.join(path, "batches"))
    assert sorted(os.listdir(os.path.join(path, "batches", bdir))) == [
        "codes",
        "vectors",
    ]
    re = IvfPqIndex.load(spark, path)
    ids = [
        r["vec_id"]
        for r in re.search(query_vec=qvec, k=3, nprobe=2, shortlist=50).collect()
    ]
    assert 90000 in ids[:2]  # co-located re-rank serves the append

    re.save(path, store_vectors=True)
    assert not os.path.isdir(os.path.join(path, "batches"))
    folded = IvfPqIndex.load(spark, path)
    ids2 = [
        r["vec_id"]
        for r in folded.search(query_vec=qvec, k=3, nprobe=2, shortlist=50).collect()
    ]
    assert ids == ids2


def test_ivf_sq8_index_delete_upsert_last_writer_wins(spark, embeddings, tmp_path):
    """The persisted artifact's mutation verbs (the reference's Pinecone
    surface: upsert/delete by id, upsert.go:16): an upsert's tombstone
    masks every STRICTLY-older row with the same id while its own rows
    stay visible; a later re-add of a deleted id wins (commit-seq order,
    not wall clock); the in-memory object and a fresh load serve the
    same state."""
    import os

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    path = str(tmp_path / "mutate_sq8")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)

    clones = emb.where(F.col("vec_id") % 10 == 3).select(
        "vec_id", F.lit(qvec).cast("array<float>").alias("embedding")
    )
    # seq1: upsert clones of the query onto ids %10==3
    live = IvfSq8Index.load(spark, path).upsert(clones, path=path)
    # seq2: delete half of them
    IvfSq8Index.load(spark, path).delete(
        emb.where(F.col("vec_id") % 20 == 3).select("vec_id"), path=path
    )
    # seq3: re-add a quarter (ids %40==3) — must win over the seq2 delete
    IvfSq8Index.load(spark, path).upsert(
        clones.where(F.col("vec_id") % 40 == 3), path=path
    )

    re = IvfSq8Index.load(spark, path)
    n = emb.count()
    vis = {r["vec_id"] for r in re.codes.select("vec_id").collect()}
    expected = {
        i for i in range(n) if not (i % 20 == 3 and i % 40 != 3)
    }
    assert vis == expected
    # exactly one row per id everywhere (upsert replaced, never duplicated)
    assert re.codes.count() == len(expected)
    assert re.vectors.count() == len(expected)

    top = re.search(None, qvec, k=10, nprobe=2, shortlist=50).collect()
    ids = [r["vec_id"] for r in top]
    # clones serve the REPLACED vector: exact re-rank score == dot(q, q)
    self_score = [r["score"] for r in top if r["vec_id"] == 0][0]
    clone_scores = [r["score"] for r in top if r["vec_id"] % 10 == 3]
    assert clone_scores and all(s == self_score for s in clone_scores)
    assert not any(i % 20 == 3 and i % 40 != 3 for i in ids)  # deletes hold
    assert any(i % 40 == 3 for i in ids)  # re-adds returned

    # the object that performed seq1 only (pre-delete) still shows its
    # own view; a fresh load shows the committed cumulative state
    assert {r["vec_id"] for r in live.codes.select("vec_id").collect()} == set(
        range(n)
    )


def test_ivf_sq8_index_upsert_commit_is_atomic(
    spark, embeddings, tmp_path, monkeypatch
):
    """An upsert is ONE rename: a crash before the commit leaves neither
    its delete half nor its insert half visible (never a state where the
    old row is gone and the new one missing); the committed dir carries
    codes + co-located floats + tombstones together."""
    import os

    import pytest as _pytest

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    path = str(tmp_path / "mutate_atomic")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)
    before = [
        (r["vec_id"], r["score"])
        for r in IvfSq8Index.load(spark, path)
        .search(None, qvec, k=5, nprobe=2, shortlist=20)
        .collect()
    ]
    repl = emb.where(F.col("vec_id") == before[1][0]).select(
        "vec_id", F.lit(qvec).cast("array<float>").alias("embedding")
    )

    real_rename = os.rename

    def boom(src, dst):
        raise OSError("simulated crash before upsert commit rename")

    monkeypatch.setattr(os, "rename", boom)
    with _pytest.raises(OSError):
        IvfSq8Index.load(spark, path).upsert(repl, path=path)
    monkeypatch.setattr(os, "rename", real_rename)
    after_crash = [
        (r["vec_id"], r["score"])
        for r in IvfSq8Index.load(spark, path)
        .search(None, qvec, k=5, nprobe=2, shortlist=20)
        .collect()
    ]
    assert after_crash == before  # old row still served, nothing half-applied

    IvfSq8Index.load(spark, path).upsert(repl, path=path)
    (bdir,) = os.listdir(os.path.join(path, "batches"))
    assert sorted(os.listdir(os.path.join(path, "batches", bdir))) == [
        "codes",
        "deletes",
        "vectors",
    ]


def test_ivf_sq8_index_mutations_fold_physically(spark, embeddings, tmp_path):
    """save() after mutations is the compaction verb: tombstoned rows
    leave the base parquet bytes entirely (not just the mask), the
    batches dir is gone, and the served state is unchanged."""
    import os

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "mutate_fold")
    IvfSq8Index.build(emb, n_centroids=4).save(path)
    IvfSq8Index.load(spark, path).delete([3, 23, 43], path=path)
    re = IvfSq8Index.load(spark, path)
    vis = {r["vec_id"] for r in re.codes.select("vec_id").collect()}
    re.save(path)
    assert not os.path.isdir(os.path.join(path, "batches"))
    raw = spark.read.parquet(os.path.join(path, "codes"))
    raw_ids = {r["vec_id"] for r in raw.select("vec_id").collect()}
    assert raw_ids == vis and not {3, 23, 43} & raw_ids
    assert "_seq" not in raw.columns  # folded base carries no mutation residue


def test_ivf_sq8_index_delete_forms_and_empty_noop(spark, embeddings, tmp_path):
    """delete() accepts a python iterable or a one-column DataFrame; an
    empty set commits nothing (no empty dir to brick later loads);
    deleting absent ids is harmless."""
    import os

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "mutate_forms")
    IvfSq8Index.build(emb, n_centroids=4).save(path)
    idx = IvfSq8Index.load(spark, path)
    n = emb.count()
    idx.delete([], path=path)
    idx.delete(emb.where(F.col("vec_id") < 0).select("vec_id"), path=path)
    assert not os.path.isdir(os.path.join(path, "batches"))
    idx.delete([7, 999_999], path=path)  # list form; 999999 doesn't exist
    re = IvfSq8Index.load(spark, path)
    assert re.codes.count() == n - 1
    assert re.codes.where(F.col("vec_id") == 7).isEmpty()


def test_ivfpq_index_delete_upsert_roundtrip(spark, embeddings, tmp_path):
    """The memory-bound tier serves the same mutation contract: upsert
    replaces (tombstone + fresh residual codes in one commit), delete
    masks, a re-add wins, and save() folds it all physically."""
    import os

    from whatsapp_vectordb_spark.operators.ann import IvfPqIndex

    emb = embeddings.select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    path = str(tmp_path / "mutate_pq")
    IvfPqIndex.build(emb, n_centroids=4, m=8, ksub=16, sample_rows=300).save(
        path, store_vectors=True
    )
    clones = emb.where(F.col("vec_id") % 10 == 3).select(
        "vec_id", F.lit(qvec).cast("array<float>").alias("embedding")
    )
    IvfPqIndex.load(spark, path).upsert(clones, path=path)
    IvfPqIndex.load(spark, path).delete(
        emb.where(F.col("vec_id") % 20 == 3).select("vec_id"), path=path
    )
    IvfPqIndex.load(spark, path).upsert(
        clones.where(F.col("vec_id") % 40 == 3), path=path
    )
    re = IvfPqIndex.load(spark, path)
    n = emb.count()
    expected = {i for i in range(n) if not (i % 20 == 3 and i % 40 != 3)}
    assert {r["vec_id"] for r in re.codes.select("vec_id").collect()} == expected
    assert re.codes.count() == len(expected)
    top = re.search(None, qvec, k=10, nprobe=2, shortlist=50).collect()
    ids = [r["vec_id"] for r in top]
    assert not any(i % 20 == 3 and i % 40 != 3 for i in ids)
    assert any(i % 40 == 3 for i in ids)

    re.save(path)
    folded = IvfPqIndex.load(spark, path)
    assert {
        r["vec_id"] for r in folded.codes.select("vec_id").collect()
    } == expected


def test_ivf_sq8_index_filtered_search_prefilter(spark, embeddings):
    """Metadata-filtered serving (the reference API's query filter):
    with ``allowed`` the shortlist is restricted BEFORE ADC, so every
    returned row satisfies the predicate and — with a covering
    shortlist — the result equals the exact top-k over (allowed ∩
    probed cells). Post-filtering could return < k matches; the
    pre-filter never does while k matches exist in the probed cells."""
    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index
    from whatsapp_vectordb_spark.operators.search import topk

    emb = embeddings.select("vec_id", "embedding")
    idx = IvfSq8Index.build(emb, n_centroids=4)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    lbl = embeddings.where(F.col("vec_id") == 7).head()["label"]
    allowed = embeddings.where(F.col("label") == lbl).select("vec_id")

    got = idx.search(
        emb, qvec, k=10, nprobe=2, shortlist=100_000, allowed=allowed
    ).collect()
    allowed_ids = {r["vec_id"] for r in allowed.collect()}
    assert got and all(r["vec_id"] in allowed_ids for r in got)

    # covering shortlist ⇒ exact top-k over allowed ∩ probed cells
    cells = idx.probe_centroid_ids(qvec, nprobe=2)
    cand_ids = (
        idx.codes.where(F.col("centroid").isin(cells))
        .join(allowed, "vec_id", "left_semi")
        .select("vec_id")
    )
    expected = topk(
        emb.join(cand_ids, "vec_id", "left_semi"),
        qvec,
        k=10,
        metric="dotproduct",
        round_to=6,
    ).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in expected
    ]

    # unfiltered search over the same cells must differ (the filter did
    # something: vec 0 itself is the global top hit but carries another
    # label unless 0 shares 7's label)
    unfiltered = idx.search(emb, qvec, k=10, nprobe=2, shortlist=100_000).collect()
    assert {r["vec_id"] for r in unfiltered} != {r["vec_id"] for r in got} or (
        0 in allowed_ids
    )


def test_ivfpq_index_filtered_probe(spark, embeddings):
    """The memory-bound tier's filtered path: probe/search under
    ``allowed`` return only allowed ids."""
    from whatsapp_vectordb_spark.operators.ann import IvfPqIndex

    emb = embeddings.select("vec_id", "embedding")
    idx = IvfPqIndex.build(emb, n_centroids=4, m=8, ksub=16, sample_rows=300)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    lbl = embeddings.where(F.col("vec_id") == 7).head()["label"]
    allowed = embeddings.where(F.col("label") == lbl).select("vec_id")
    allowed_ids = {r["vec_id"] for r in allowed.collect()}

    probed = idx.probe(qvec, k=20, nprobe=2, allowed=allowed).collect()
    assert probed and all(r["vec_id"] in allowed_ids for r in probed)
    served = idx.search(
        emb, qvec, k=10, nprobe=2, shortlist=1000, allowed=allowed
    ).collect()
    assert served and all(r["vec_id"] in allowed_ids for r in served)


def test_ivfpq_index_search_batched_equals_per_query(spark, embeddings):
    """IvfPqIndex.search_batched (shortlist + shared exact-rerank tail)
    must equal N independent search() calls bit-for-bit — same
    shortlists (probe_batched is pinned to probe), same exact scores,
    same tie-breaks."""
    from whatsapp_vectordb_spark.operators.ann import IvfPqIndex

    emb = embeddings.select("vec_id", "embedding")
    idx = IvfPqIndex.build(emb, n_centroids=4, m=8, ksub=16, sample_rows=300)
    qrows = emb.where(F.col("vec_id").isin(0, 1, 2)).collect()
    queries = [(r["vec_id"], r["embedding"]) for r in qrows]
    batched = idx.search_batched(emb, queries, k=5, nprobe=2, shortlist=30)
    got = {
        qid: [(r["vec_id"], r["score"]) for r in rows]
        for qid, rows in (
            (q, sorted(
                [r for r in batched.collect() if r["query_id"] == q],
                key=lambda r: (-r["score"], r["vec_id"]),
            ))
            for q, _ in queries
        )
    }
    for qid, vec in queries:
        single = [
            (r["vec_id"], r["score"])
            for r in idx.search(emb, vec, k=5, nprobe=2, shortlist=30).collect()
        ]
        assert got[qid] == single, qid


def test_ivfpq_index_search_chooses_probe_cells_once_per_query(
    spark, embeddings, monkeypatch
):
    """IvfPqIndex.search and search_batched pick each query's probe cells
    once: the ADC shortlist and the co-located re-rank's cell prune
    share one probe map (the IvfSq8Index.search_batched shape), so
    |Q| queries cost |Q| centroid-distance passes, not 2|Q|."""
    from whatsapp_vectordb_spark.operators.ann import (
        IvfPqIndex,
        IvfPqResidualIndex,
    )

    emb = embeddings.select("vec_id", "embedding")
    idx = IvfPqIndex.build(emb, n_centroids=4, m=8, ksub=16, sample_rows=300)
    qrows = emb.where(F.col("vec_id").isin(0, 1, 2)).collect()
    queries = [(r["vec_id"], r["embedding"]) for r in qrows]
    calls = []
    probe_cells = IvfPqResidualIndex.probe_cells

    def counted(self, query_vec, nprobe):
        calls.append(nprobe)
        return probe_cells(self, query_vec, nprobe)

    monkeypatch.setattr(IvfPqResidualIndex, "probe_cells", counted)
    idx.search_batched(queries=queries, k=5, nprobe=2)
    assert len(calls) == len(queries)
    calls.clear()
    idx.search(query_vec=queries[0][1], k=5, nprobe=2)
    assert len(calls) == 1


def test_empty_base_layouts_load_and_serve_their_commits(
    spark, embeddings, tmp_path
):
    """Two layouts whose base holds no rows: an empty save, and a base
    whose every row was tombstoned and then folded away. Once a commit
    lands, each loads and serves exactly the committed rows (the
    current epoch reads its base root whole, and a root with no part
    files adds no branch), and the folded layout's pre-fold snapshots
    still read the whole retained base."""
    from whatsapp_vectordb_spark.operators.ann import (
        IvfPqIndex,
        IvfSq8Index,
        verify_layout,
    )

    emb = embeddings.select("vec_id", "embedding")
    batch = emb.where(F.col("vec_id") % 40 == 0)
    want = sorted(r["vec_id"] for r in batch.collect())
    n = emb.count()

    def ids(df):
        return sorted(r[0] for r in df.select("vec_id").collect())

    for cls, kw in (
        (IvfSq8Index, dict(n_centroids=4)),
        (IvfPqIndex, dict(n_centroids=4, m=8, ksub=16, sample_rows=300)),
    ):
        name = cls.__name__
        # an empty save: no centroid= dirs, no part files
        empty = cls.build(emb, **kw)
        empty.codes = empty.codes.limit(0)
        empty.vectors = empty.vectors.limit(0)
        p1 = str(tmp_path / f"{name}_empty")
        empty.save(p1, store_vectors=True)
        empty.add_batch(batch, path=p1)
        got = cls.load(spark, p1)
        assert ids(got.codes) == want and ids(got.vectors) == want, name
        hits = ids(got.search(query_vec=batch.head()["embedding"], k=3))
        assert hits and set(hits) <= set(want), name

        # every row tombstoned, then folded: the base holds no rows
        p2 = str(tmp_path / f"{name}_tombstoned")
        cls.build(emb, **kw).save(p2, store_vectors=True)
        cls.load(spark, p2).delete(emb.select("vec_id"), path=p2)
        folded = cls.load(spark, p2).save(p2)
        assert folded.codes.count() == 0, name
        folded.add_batch(batch, path=p2)
        got = cls.load(spark, p2)
        assert ids(got.codes) == want and ids(got.vectors) == want, name
        assert cls.load(spark, p2, as_of=(1, 1)).codes.count() == len(want)
        assert cls.load(spark, p2, as_of=(0, 1)).codes.count() == 0, name
        pre = cls.load(spark, p2, as_of=(0, 0))
        assert pre.codes.count() == n and pre.vectors.count() == n, name
        assert verify_layout(p2, spark)["ok"], name


def test_empty_base_layouts_load_with_no_commit(spark, embeddings, tmp_path):
    """A layout whose base holds no rows and which has no commit yet
    opens as a 0-row handle: after an empty save, and after a delete of
    every id folded by ``maintenance_tick``. The handle serves nothing,
    an ``add_batch`` through it serves exactly the batch, and the layout
    verifies."""
    from whatsapp_vectordb_spark.operators.ann import (
        IvfPqIndex,
        IvfSq8Index,
        maintenance_tick,
        verify_layout,
    )

    emb = embeddings.select("vec_id", "embedding")
    batch = emb.where(F.col("vec_id") % 40 == 0)
    want = sorted(r["vec_id"] for r in batch.collect())
    qvec = batch.head()["embedding"]

    def ids(df):
        return sorted(r[0] for r in df.select("vec_id").collect())

    for cls, kw in (
        (IvfSq8Index, dict(n_centroids=4)),
        (IvfPqIndex, dict(n_centroids=4, m=8, ksub=16, sample_rows=300)),
    ):
        name = cls.__name__
        p1 = str(tmp_path / f"{name}_empty")
        empty = cls.build(emb, **kw)
        empty.codes = empty.codes.limit(0)
        empty.vectors = empty.vectors.limit(0)
        empty.save(p1, store_vectors=True)

        p2 = str(tmp_path / f"{name}_all_deleted")
        cls.build(emb, **kw).save(p2, store_vectors=True)
        cls.load(spark, p2).delete(emb.select("vec_id"), path=p2)
        tick = maintenance_tick(cls, spark, p2, max_tombstone_commits=0)
        assert tick["folded"], name

        for p in (p1, p2):
            h = cls.load(spark, p)
            assert h.codes.count() == 0 and h.vectors.count() == 0, (name, p)
            assert h.search(query_vec=qvec, k=3).count() == 0, (name, p)
            h.add_batch(batch, path=p)
            assert ids(h.codes) == want and ids(h.vectors) == want, (name, p)
            got = cls.load(spark, p)
            assert ids(got.codes) == want and ids(got.vectors) == want, (name, p)
            hits = ids(got.search(query_vec=qvec, k=3))
            assert hits and set(hits) <= set(want), (name, p)
            assert verify_layout(p, spark)["ok"], (name, p)

    # without its codes/ dir, the same empty layout still refuses to open
    import shutil

    p3 = str(tmp_path / "no_codes_dir")
    empty = IvfSq8Index.build(emb, n_centroids=4)
    empty.codes = empty.codes.limit(0)
    empty.save(p3)
    shutil.rmtree(os.path.join(p3, "codes"))
    with pytest.raises(RuntimeError, match="no codes"):
        IvfSq8Index.load(spark, p3)


def test_layout_mutation_stats(spark, embeddings, tmp_path):
    """The maintenance-telemetry verb: counts committed mutation dirs by
    kind (driver-side listing only), and resets at fold."""
    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        layout_mutation_stats,
    )

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "stats")
    IvfSq8Index.build(emb, n_centroids=4).save(path)
    assert layout_mutation_stats(path) == {
        "batch_commits": 0,
        "data_commits": 0,
        "tombstone_commits": 0,
        "max_seq": 0,
        "staging_orphans": 0,
    }
    idx = IvfSq8Index.load(spark, path)
    idx.upsert(emb.where(F.col("vec_id") < 5), path=path)
    idx.delete([7, 9], path=path)
    idx.add_batch(
        emb.where(F.col("vec_id") == 6).select(
            (F.col("vec_id") + 90000).alias("vec_id"), "embedding"
        ),
        path=path,
    )
    got = layout_mutation_stats(path)
    assert got["batch_commits"] == 3
    assert got["data_commits"] == 2  # the upsert and the append carry codes
    assert got["tombstone_commits"] == 2  # the upsert's own ids + the delete
    assert got["max_seq"] == 3
    assert got["staging_orphans"] == 0
    # fold resets the mutation state
    IvfSq8Index.load(spark, path).save(path)
    after = layout_mutation_stats(path)
    assert after["batch_commits"] == 0 and after["max_seq"] == 0


def test_ivf_sq8_index_mutation_model_replay(spark, embeddings, tmp_path):
    """Model-based gate for the seq-masking design: a seeded random
    interleaving of upsert / delete / append / fold / reload applies to
    both the persisted index and a plain python dict model
    (last-writer-wins by id); after every reload the served visible set
    and each id's vector marker must equal the model exactly. Catches
    the whole class of ordering bugs (tombstone masking a same-commit
    write, a re-add losing to an older delete, fold dropping live rows)
    under sequences no hand-written scenario covers."""
    import random

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    rng = random.Random(20260816)
    emb = embeddings.select("vec_id", "embedding")
    vecs = {r["vec_id"]: r["embedding"] for r in emb.limit(40).collect()}
    id_space = list(range(30))

    path = str(tmp_path / "model")
    IvfSq8Index.build(emb.where(F.col("vec_id") < 20), n_centroids=4).save(
        path, store_vectors=True
    )
    model = {i: i % len(vecs) for i in range(20)}  # id -> marker key
    idx = IvfSq8Index.load(spark, path)
    marker_seq = 0

    def batch_df(ids, mkey):
        rows = [(int(i), list(map(float, vecs[mkey]))) for i in ids]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    for step in range(12):
        op = rng.choice(["upsert", "delete", "append", "fold", "reload"])
        if op == "upsert":
            ids = rng.sample(id_space, rng.randint(1, 5))
            marker_seq = (marker_seq + 1) % len(vecs)
            idx.upsert(batch_df(ids, marker_seq), path=path)
            for i in ids:
                model[i] = marker_seq
        elif op == "delete":
            ids = rng.sample(id_space, rng.randint(1, 5))
            idx.delete(ids, path=path)
            for i in ids:
                model.pop(i, None)
        elif op == "append":
            new_id = 100 + step
            marker_seq = (marker_seq + 1) % len(vecs)
            idx.add_batch(batch_df([new_id], marker_seq), path=path)
            model[new_id] = marker_seq
        elif op == "fold":
            idx.save(path)
            idx = IvfSq8Index.load(spark, path)
        else:
            idx = IvfSq8Index.load(spark, path)

        # verify against the model from a FRESH load every step
        re = IvfSq8Index.load(spark, path)
        vis = {r["vec_id"] for r in re.codes.select("vec_id").collect()}
        assert vis == set(model), f"step {step} ({op}): {vis ^ set(model)}"
        assert re.codes.count() == len(model)  # no duplicate rows per id
        # spot-check vector identity for a few ids via the float store
        probe_ids = rng.sample(sorted(model), min(3, len(model)))
        got = {
            r["vec_id"]: r["embedding"]
            for r in re.vectors.where(
                F.col("vec_id").isin(probe_ids)
            ).collect()
        }
        for i in probe_ids:
            assert got[i] == list(vecs[model[i]]), f"step {step}: vector of {i}"


def test_parse_batch_seq_rejects_nonwriter_shapes():
    """ADVICE r15 + review: only the writer's shape (>=8-digit decimal
    head, then an underscore) parses as a commit seq. A legacy
    uuid-only dir — which never contains an underscore — orders as
    legacy seq 0 even when its 32 hex chars are coincidentally all
    decimal; and seqs past 10^8-1 (f"{seq:08d}" grows to 9+ digits)
    keep parsing instead of silently freezing seq allocation."""
    from whatsapp_vectordb_spark.commitlog import _parse_seq

    assert _parse_seq("00000007_" + "a" * 32) == 7
    assert _parse_seq("12345678_" + "f" * 32) == 12345678
    # the 10^8-th commit: 9-digit head must keep parsing (not reset to 0)
    assert _parse_seq("100000000_" + "0" * 22) == 100_000_000
    # legacy uuid-only dir, all-decimal hex: no underscore → legacy 0
    assert _parse_seq("1" * 32) == 0
    # a head narrower than the writer's zero-padding is not a seq
    assert _parse_seq("1234567_" + "0" * 24) == 0
    # plain legacy uuid (mixed hex) still legacy
    assert _parse_seq("deadbeefdeadbeefdeadbeefdeadbeef") == 0


def test_upsert_batch_with_duplicate_ids_keeps_one_row(
    spark, embeddings, tmp_path
):
    """ADVICE r15: same-id rows inside ONE upsert batch share a commit
    seq, so without in-batch dedupe both would outlive the
    strictly-older tombstone mask forever. The replace path must land
    exactly one row per id — on disk, in memory, and after a fold."""
    from whatsapp_vectordb_spark.operators.ann import IvfPqIndex, IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    n = emb.count()

    dup_batch = (
        emb.where(F.col("vec_id") % 10 == 3)
        .select("vec_id", F.lit(qvec).cast("array<float>").alias("embedding"))
        .unionAll(
            emb.where(F.col("vec_id") % 10 == 3).select(
                "vec_id", F.lit(qvec).cast("array<float>").alias("embedding")
            )
        )
    )

    for cls, name in ((IvfSq8Index, "sq8"), (IvfPqIndex, "pq")):
        path = str(tmp_path / f"dupeups_{name}")
        if cls is IvfPqIndex:
            cls.build(emb, n_centroids=4, m=8, ksub=16, sample_rows=500).save(
                path, store_vectors=True
            )
        else:
            cls.build(emb, n_centroids=4).save(path, store_vectors=True)
        cls.load(spark, path).upsert(dup_batch, path=path)

        re = cls.load(spark, path)
        assert re.codes.count() == n, name  # one row per id, none dropped
        per_id = (
            re.codes.groupBy("vec_id").count().where(F.col("count") > 1).count()
        )
        assert per_id == 0, f"{name}: duplicate ids survived the upsert"
        # a later delete must fully remove the id (the ADVICE failure
        # mode was a permanently undeletable duplicate)
        cls.load(spark, path).delete(
            emb.where(F.col("vec_id") % 10 == 3).select("vec_id"), path=path
        )
        re2 = cls.load(spark, path)
        assert (
            re2.codes.where(F.col("vec_id") % 10 == 3).count() == 0
        ), f"{name}: deleted id still visible"
        # fold keeps the deduped state physical
        re2.save(path)
        assert cls.load(spark, path).codes.count() == re2.codes.count(), name


def test_save_fold_rewrites_only_touched_cells(spark, embeddings, tmp_path):
    """Round-16 bounded fold: save()-as-fold rewrites ONLY the centroid
    partitions the accumulated commits touched — untouched partition
    dirs stay physically in place (mtime-identical), batches fold away,
    and the served state matches a full fold bit-for-bit. The r15 fold
    was O(corpus) for a 2-cell mutation."""
    import os

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    path = str(tmp_path / "bounded_fold")
    IvfSq8Index.build(emb, n_centroids=8).save(path, store_vectors=True)

    def cell_mtimes(sub):
        root = os.path.join(path, sub)
        return {
            d: os.path.getmtime(os.path.join(root, d))
            for d in os.listdir(root)
            if d.startswith("centroid=")
        }

    before = {s: cell_mtimes(s) for s in ("codes", "vectors")}

    # one upsert (2 clone rows) + one delete (1 id) — a handful of cells
    clones = emb.where(F.col("vec_id").isin([7, 13])).select(
        "vec_id", F.lit(qvec).cast("array<float>").alias("embedding")
    )
    IvfSq8Index.load(spark, path).upsert(clones, path=path)
    IvfSq8Index.load(spark, path).delete([29], path=path)

    # touched = the delta codes' centroid column + deleted ids' home cells
    bdir = os.path.join(path, "batches")
    touched = set()
    for b in os.listdir(bdir):
        croot = os.path.join(bdir, b, "codes")
        if os.path.isdir(croot):
            cells = spark.read.parquet(croot).select("centroid").distinct()
            touched |= {f"centroid={r['centroid']}" for r in cells.collect()}
    pre = IvfSq8Index.load(spark, path)
    home29 = {
        f"centroid={r['centroid']}"
        for r in pre.codes.sparkSession.read.parquet(os.path.join(path, "codes"))
        .where(F.col("vec_id").isin([7, 13, 29]))
        .select("centroid")
        .distinct()
        .collect()
    }
    touched |= home29
    expected_state = {
        (r["vec_id"],) for r in pre.codes.select("vec_id").collect()
    }

    IvfSq8Index.load(spark, path).save(path)  # the bounded fold
    assert not os.path.isdir(bdir), "fold must consume the batch dirs"
    after = {s: cell_mtimes(s) for s in ("codes", "vectors")}
    for sub in ("codes", "vectors"):
        untouched = set(before[sub]) - touched
        assert untouched, "test needs untouched cells to be meaningful"
        for d in untouched:
            assert after[sub][d] == before[sub][d], (
                f"{sub}/{d} untouched by the mutation but rewritten by fold"
            )

    re = IvfSq8Index.load(spark, path)
    assert {(r["vec_id"],) for r in re.codes.select("vec_id").collect()} == (
        expected_state
    )
    assert re.codes.where(F.col("vec_id") == 29).count() == 0
    # clones serve the REPLACED floats after the physical fold
    top = re.search(None, qvec, k=5, nprobe=8, shortlist=50).collect()
    self_score = [r["score"] for r in top if r["vec_id"] == 0][0]
    for vid in (7, 13):
        s = [r["score"] for r in top if r["vec_id"] == vid]
        assert s and s[0] == self_score

    # a second save with nothing to fold is a pure no-op: every cell dir
    # AND meta.json keep their mtimes
    meta_before = os.path.getmtime(os.path.join(path, "meta.json"))
    snap = {s: cell_mtimes(s) for s in ("codes", "vectors")}
    IvfSq8Index.load(spark, path).save(path)
    assert os.path.getmtime(os.path.join(path, "meta.json")) == meta_before
    for sub in ("codes", "vectors"):
        assert cell_mtimes(sub) == snap[sub]

    # bounded-fold crash contract: an interruption inside the partition
    # swaps leaves the layout LOUDLY unreadable (meta removed first),
    # same as the full save — never a readable half-folded state
    import pytest as _pytest

    IvfSq8Index.load(spark, path).delete([7], path=path)
    crash_idx = IvfSq8Index.load(spark, path)
    real_rename = os.rename

    def boom(src, dst):
        # crash at the PUBLISH rename (the layout's top-level meta) —
        # the retention move of the OLD meta into _retained/ is also a
        # meta.json rename but precedes the loud window (r17)
        if dst == os.path.join(path, "meta.json"):
            raise OSError("simulated crash before meta publish (bounded fold)")
        return real_rename(src, dst)

    os.rename = boom
    try:
        with _pytest.raises(OSError):
            crash_idx.save(path)
    finally:
        os.rename = real_rename
    with _pytest.raises(RuntimeError, match="interrupted save"):
        IvfSq8Index.load(spark, path)


def test_save_falls_back_to_full_rewrite_for_inmemory_mutations(
    spark, embeddings, tmp_path
):
    """The bounded fold reads committed state from disk — an index
    carrying an IN-MEMORY-ONLY mutation (add_batch/delete without
    ``path``) must take the full rewrite or the mutation would be
    silently lost. Both directions checked: the in-memory rows land,
    and the in-memory delete holds."""
    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    n = emb.count()
    path = str(tmp_path / "inmem_fold")
    IvfSq8Index.build(emb.where(F.col("vec_id") < n - 5), n_centroids=4).save(
        path, store_vectors=True
    )

    idx = IvfSq8Index.load(spark, path)
    idx.add_batch(emb.where(F.col("vec_id") >= n - 5))  # NO path: memory only
    idx.delete([0])  # NO path
    idx.save(path)  # mirror broken → full rewrite persists memory state

    re = IvfSq8Index.load(spark, path)
    vis = {r["vec_id"] for r in re.codes.select("vec_id").collect()}
    assert vis == set(range(1, n))
    assert re.vectors.count() == n - 1


def test_apply_cdc_events_respects_seq_order(spark, embeddings, tmp_path):
    """ADVICE r15 promoted to a verb: one CDC microbatch carrying
    delete+upsert for the SAME id resolves by the per-event seq column,
    not by a fixed op convention — independently of the input row
    order. Consecutive same-op events collapse into ONE commit (run
    merge); final visibility is the feed's per-id last-writer-wins."""
    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        apply_cdc_events,
    )

    emb = embeddings.select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    n = emb.count()
    path = str(tmp_path / "cdc_ordered2")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)

    qv = list(map(float, qvec))
    rows = [
        (7, qv, "u", 4),
        (3, qv, "u", 1),
        (7, None, "d", 2),
        (3, None, "d", 3),
    ]  # seq order: u(3), d(7), d(3), u(7) → runs [u],[d,d],[u] = 3 commits
    events = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, op string, seq long"
    )
    idx = IvfSq8Index.load(spark, path)
    assert apply_cdc_events(idx, events, path) == 3

    re = IvfSq8Index.load(spark, path)
    vis = {r["vec_id"] for r in re.codes.select("vec_id").collect()}
    assert 3 not in vis  # upsert(seq1) then delete(seq3): delete wins
    assert 7 in vis  # delete(seq2) then upsert(seq4): upsert wins
    assert len(vis) == n - 1
    # id 7 serves the REPLACED vector (clone of the query)
    top = re.search(None, qvec, k=3, nprobe=4, shortlist=20).collect()
    s0 = [r["score"] for r in top if r["vec_id"] == 0][0]
    s7 = [r["score"] for r in top if r["vec_id"] == 7]
    assert s7 and s7[0] == s0


def test_apply_cdc_events_empty_batch_commits_nothing(
    spark, embeddings, tmp_path
):
    """An empty microbatch returns 0 commits and leaves the layout
    untouched. Emptiness is decided from the single pinned frame (the
    run plan), not a separate pre-checkpoint isEmpty() that a
    nondeterministic feed could contradict (ADVICE r16)."""
    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        apply_cdc_events,
        layout_mutation_stats,
    )

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "cdc_empty")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, op string, seq long"
    )
    idx = IvfSq8Index.load(spark, path)
    assert apply_cdc_events(idx, empty, path) == 0
    assert layout_mutation_stats(path)["batch_commits"] == 0


def test_writer_lease_two_threads_exactly_one_wins(
    spark, embeddings, tmp_path
):
    """The single-writer contract is ENFORCED, not advisory (r16
    verdict #1): two threads committing a delete to the same saved
    layout serialize on the O_EXCL writer lease — exactly one may hold
    it at a time, and a contender that finds it held gets a loud
    ConcurrentWriterError instead of double-allocating a commit seq."""
    import threading

    from whatsapp_vectordb_spark.commitlog import (
        ConcurrentWriterError,
        _writer_lease,
    )
    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "lease_race")
    IvfSq8Index.build(emb, n_centroids=4).save(path)

    # hold the lease from a side thread, then contend from this one
    entered = threading.Event()
    release = threading.Event()

    def holder():
        with _writer_lease(path, "test_holder"):
            entered.set()
            release.wait(timeout=30)

    t = threading.Thread(target=holder)
    t.start()
    assert entered.wait(timeout=30)
    idx = IvfSq8Index.load(spark, path)
    with pytest.raises(ConcurrentWriterError, match="another thread"):
        idx.delete([3], path=path)
    release.set()
    t.join(timeout=30)
    # the loser committed NOTHING; after the holder exits, the same
    # verb succeeds and the lease file is gone again
    idx = IvfSq8Index.load(spark, path)
    idx.delete([3], path=path)
    assert not os.path.exists(os.path.join(path, "_writer.lock"))
    assert 3 not in {
        r["vec_id"]
        for r in IvfSq8Index.load(spark, path)
        .codes.select("vec_id")
        .collect()
    }


def test_writer_lease_two_processes_exactly_one_wins(
    spark, embeddings, tmp_path
):
    """Cross-PROCESS half of the single-writer contract: a second OS
    process holding the lease blocks this one with a loud error (its
    pid is genuinely alive, so no stale-break); after it dies without
    releasing, the dead-pid stale-break lets the next writer proceed."""
    import subprocess
    import sys as _sys
    import time as _time

    from whatsapp_vectordb_spark.commitlog import ConcurrentWriterError
    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "lease_proc")
    IvfSq8Index.build(emb, n_centroids=4).save(path)
    lock = os.path.join(path, "_writer.lock")

    # a real second process acquires the lease and holds it
    child = subprocess.Popen(
        [
            _sys.executable,
            "-c",
            "import sys, time; sys.path.insert(0, sys.argv[2]);"
            "from whatsapp_vectordb_spark.commitlog import _writer_lease;"
            "l = _writer_lease(sys.argv[1], 'other_process');"
            "l.__enter__(); print('HELD', flush=True); time.sleep(60)",
            path,
            os.getcwd(),
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert child.stdout.readline().strip() == "HELD"
        with pytest.raises(ConcurrentWriterError, match="held by another"):
            IvfSq8Index.load(spark, path).delete([3], path=path)
        # the holder DIES without releasing — dead-pid stale-break
        child.kill()
        child.wait(timeout=30)
        deadline = _time.time() + 30
        while True:  # pid release can lag the wait() a beat
            try:
                IvfSq8Index.load(spark, path).delete([3], path=path)
                break
            except ConcurrentWriterError:
                if _time.time() > deadline:
                    raise
                _time.sleep(0.5)
        assert not os.path.exists(lock)
        assert 3 not in {
            r["vec_id"]
            for r in IvfSq8Index.load(spark, path)
            .codes.select("vec_id")
            .collect()
        }
    finally:
        if child.poll() is None:
            child.kill()


def test_writer_lease_breaks_stale_and_rejects_live(
    spark, embeddings, tmp_path
):
    """A lease left by a CRASHED writer (dead pid on this host) is
    broken and the new writer proceeds; a lease held by a LIVE process
    is respected with a loud error."""
    import json

    from whatsapp_vectordb_spark.commitlog import ConcurrentWriterError
    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "lease_stale")
    IvfSq8Index.build(emb, n_centroids=4).save(path)
    lock = os.path.join(path, "_writer.lock")

    # dead-pid lease → broken, mutation proceeds
    with open(lock, "w") as f:
        json.dump(
            {"pid": 2**22 + 1234, "host": os.uname().nodename,
             "verb": "crashed", "acquired_at": 0.0},
            f,
        )
    IvfSq8Index.load(spark, path).delete([5], path=path)
    assert not os.path.exists(lock)

    # live-pid lease (this very process — alive by construction, and
    # not registered in-process, i.e. a foreign writer) → loud refusal
    with open(lock, "w") as f:
        json.dump(
            {"pid": os.getpid(), "host": os.uname().nodename,
             "verb": "other_writer", "acquired_at": 1e18},
            f,
        )
    with pytest.raises(ConcurrentWriterError, match="held by another"):
        IvfSq8Index.load(spark, path).delete([7], path=path)
    os.unlink(lock)


def test_duplicate_commit_seq_fails_loudly_on_read(
    spark, embeddings, tmp_path
):
    """Two commits at the same mutation seq (the corruption a violated
    single-writer contract produces — the strictly-older mask cannot
    order them) make every commit-log read raise instead of silently
    unioning both writers' states: load, layout_snapshots,
    layout_mutation_stats, and the fold all trip."""
    import shutil

    from whatsapp_vectordb_spark.commitlog import ConcurrentWriterError
    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        layout_mutation_stats,
        layout_snapshots,
    )

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "dup_seq")
    IvfSq8Index.build(emb, n_centroids=4).save(path)
    idx = IvfSq8Index.load(spark, path)
    idx.delete([3], path=path)
    bdir = os.path.join(path, "batches")
    committed = os.listdir(bdir)
    assert len(committed) == 1
    # forge the second writer's commit at the SAME seq, different uuid
    seq_head = committed[0].split("_", 1)[0]
    shutil.copytree(
        os.path.join(bdir, committed[0]),
        os.path.join(bdir, f"{seq_head}_{'f' * 32}"),
    )
    for reader in (
        lambda: IvfSq8Index.load(spark, path),
        lambda: layout_snapshots(path),
        lambda: layout_mutation_stats(path),
    ):
        with pytest.raises(ConcurrentWriterError, match="two commits"):
            reader()


def test_time_travel_snapshots_follow_commit_log(spark, embeddings, tmp_path):
    """``load(as_of=N)`` is a snapshot read of the commit log: the
    visible id set at every bound matches the model (batches <= N,
    tombstones <= N, strictly-older mask inside the bound), the float
    store sees the SAME bound as the codes, the tip bound equals a plain
    load, and ``layout_snapshots`` enumerates exactly the readable
    bounds."""
    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        layout_snapshots,
    )

    emb = embeddings.select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    n = emb.count()
    path = str(tmp_path / "tt_sq8")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)

    clones = emb.where(F.col("vec_id") % 10 == 3).select(
        "vec_id", F.lit(qvec).cast("array<float>").alias("embedding")
    )
    IvfSq8Index.load(spark, path).upsert(clones, path=path)  # seq1
    IvfSq8Index.load(spark, path).delete(  # seq2
        emb.where(F.col("vec_id") % 20 == 3).select("vec_id"), path=path
    )
    IvfSq8Index.load(spark, path).upsert(  # seq3
        clones.where(F.col("vec_id") % 40 == 3), path=path
    )

    assert layout_snapshots(path) == [(0, 0), (0, 1), (0, 2), (0, 3)]
    model = {
        0: set(range(n)),  # base fold, pre-mutation
        1: set(range(n)),  # clones replaced, nothing deleted yet
        2: {i for i in range(n) if i % 20 != 3},  # deletes applied
        3: {i for i in range(n) if not (i % 20 == 3 and i % 40 != 3)},
    }
    for bound, expected in model.items():
        snap = IvfSq8Index.load(spark, path, as_of=bound)
        assert {
            r["vec_id"] for r in snap.codes.select("vec_id").collect()
        } == expected, f"as_of={bound}"
        # the float store must mask at the SAME bound — a codes/vectors
        # bound mismatch would silently drop ids from exact re-ranks
        assert snap.vectors.count() == len(expected)

    tip = {
        r["vec_id"]
        for r in IvfSq8Index.load(spark, path)
        .codes.select("vec_id")
        .collect()
    }
    assert tip == model[3]

    # snapshot SERVING applies the bound end-to-end: at as_of=2 the
    # surviving clones (%10==3 minus the %20==3 deletes) score as the
    # query itself; the seq3 re-adds must NOT be visible yet
    snap2 = IvfSq8Index.load(spark, path, as_of=2)
    top = snap2.search(None, qvec, k=10, nprobe=2, shortlist=50).collect()
    ids = [r["vec_id"] for r in top]
    assert not any(i % 20 == 3 for i in ids)
    s0 = [r["score"] for r in top if r["vec_id"] == 0][0]
    assert all(
        r["score"] == s0 for r in top if r["vec_id"] % 10 == 3
    ), "surviving clones must serve the replaced vector"


def test_fold_retention_preserves_pre_fold_snapshots(
    spark, embeddings, tmp_path
):
    """r16 verdict #2 / ADVICE r16: a fold RETAINS the state it
    displaces, so ``load(as_of=(epoch, seq))`` survives compaction —
    pre-fold bounds stay readable with the exact visibility they had,
    a remembered pair can never alias a same-numbered seq of the new
    epoch, and a bare-int bound stays current-epoch shorthand."""
    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        layout_snapshots,
    )

    emb = embeddings.select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    n = emb.count()
    path = str(tmp_path / "ret_sq8")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)

    clones = emb.where(F.col("vec_id") % 10 == 3).select(
        "vec_id", F.lit(qvec).cast("array<float>").alias("embedding")
    )
    IvfSq8Index.load(spark, path).upsert(clones, path=path)  # (0, 1)
    IvfSq8Index.load(spark, path).delete(  # (0, 2)
        emb.where(F.col("vec_id") % 20 == 3).select("vec_id"), path=path
    )
    IvfSq8Index.load(spark, path).upsert(  # (0, 3)
        clones.where(F.col("vec_id") % 40 == 3), path=path
    )
    # remember what the pre-fold (0, 2) snapshot SERVES, bit-for-bit
    pre_top = [
        (r["vec_id"], r["score"])
        for r in IvfSq8Index.load(spark, path, as_of=2)
        .search(None, qvec, k=10, nprobe=2, shortlist=50)
        .collect()
    ]

    IvfSq8Index.load(spark, path).save(path)  # FOLD → epoch 1
    # epoch 1 gets its own commits, re-deleting different ids — a seq-2
    # bound now EXISTS in the new epoch with different visibility
    IvfSq8Index.load(spark, path).delete([2], path=path)  # (1, 1)
    IvfSq8Index.load(spark, path).delete([4], path=path)  # (1, 2)

    pairs = layout_snapshots(path)
    assert [p for p in pairs if p[0] == 1] == [(1, 0), (1, 1), (1, 2)]
    assert [p for p in pairs if p[0] == 0] == [(0, 0), (0, 1), (0, 2), (0, 3)]

    model = {
        (0, 0): set(range(n)),
        (0, 1): set(range(n)),
        (0, 2): {i for i in range(n) if i % 20 != 3},
        (0, 3): {i for i in range(n) if not (i % 20 == 3 and i % 40 != 3)},
        (1, 0): {i for i in range(n) if not (i % 20 == 3 and i % 40 != 3)},
        (1, 2): {
            i
            for i in range(n)
            if not (i % 20 == 3 and i % 40 != 3) and i not in (2, 4)
        },
    }
    for bound, expected in model.items():
        snap = IvfSq8Index.load(spark, path, as_of=bound)
        assert {
            r["vec_id"] for r in snap.codes.select("vec_id").collect()
        } == expected, f"as_of={bound}"
        assert snap.vectors.count() == len(expected), f"vectors {bound}"

    # NO ALIASING: the remembered pre-fold pair serves exactly what the
    # pre-fold snapshot served, while bare-int 2 means the CURRENT epoch
    post_top = [
        (r["vec_id"], r["score"])
        for r in IvfSq8Index.load(spark, path, as_of=(0, 2))
        .search(None, qvec, k=10, nprobe=2, shortlist=50)
        .collect()
    ]
    assert post_top == pre_top
    int2 = IvfSq8Index.load(spark, path, as_of=2)
    assert {
        r["vec_id"] for r in int2.codes.select("vec_id").collect()
    } == model[(1, 2)]
    # retained-epoch handles are read-only like any snapshot
    with pytest.raises(RuntimeError, match="read-only as_of="):
        IvfSq8Index.load(spark, path, as_of=(0, 2)).delete([9], path=path)


def test_fold_retention_excludes_cells_created_after_snapshot(
    spark, embeddings, tmp_path
):
    """A base cell INTRODUCED by a later fold (no predecessor dir) must
    not leak into an older epoch's snapshot: delete every id of one
    cell, fold (the cell folds to absent), re-add the same ids, fold
    again (the second fold re-creates the cell) — the between-folds
    snapshot shows the cell empty, the endpoints show it full."""
    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    n = emb.count()
    path = str(tmp_path / "ret_created")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)

    idx0 = IvfSq8Index.load(spark, path)
    cell = idx0.codes.groupBy("centroid").count().orderBy("count").head()[
        "centroid"
    ]
    ids_c = {
        r["vec_id"]
        for r in idx0.codes.where(F.col("centroid") == cell)
        .select("vec_id")
        .collect()
    }
    assert ids_c and len(ids_c) < n

    IvfSq8Index.load(spark, path).delete(sorted(ids_c), path=path)
    IvfSq8Index.load(spark, path).save(path)  # fold 1: cell → absent
    assert not os.path.isdir(os.path.join(path, "codes", f"centroid={cell}"))

    # same ids, same embeddings → the frozen quantizer assigns them to
    # the SAME cell; fold 2 re-creates its base dir with no predecessor
    IvfSq8Index.load(spark, path).upsert(
        emb.where(F.col("vec_id").isin(sorted(ids_c))), path=path
    )
    IvfSq8Index.load(spark, path).save(path)  # fold 2
    assert os.path.isdir(os.path.join(path, "codes", f"centroid={cell}"))

    def vis(bound):
        return {
            r["vec_id"]
            for r in IvfSq8Index.load(spark, path, as_of=bound)
            .codes.select("vec_id")
            .collect()
        }

    assert vis((0, 0)) == set(range(n))
    assert vis((1, 0)) == set(range(n)) - ids_c  # created cell excluded
    assert vis((2, 0)) == set(range(n))
    assert {
        r["vec_id"]
        for r in IvfSq8Index.load(spark, path)
        .codes.select("vec_id")
        .collect()
    } == set(range(n))


def test_vacuum_layout_expires_history(spark, embeddings, tmp_path):
    """``vacuum_layout`` trims retained pre-fold versions from the OLD
    end: expired epochs disappear from disk and from
    ``layout_snapshots``, a bound into them raises loudly instead of
    serving a partial snapshot, and newer retained epochs plus the tip
    are untouched."""
    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        layout_snapshots,
        vacuum_layout,
    )

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "ret_vacuum")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)
    for vid in (1, 2):  # two folds → retained epochs 1 and 2
        IvfSq8Index.load(spark, path).delete([vid], path=path)
        IvfSq8Index.load(spark, path).save(path)
    assert os.path.isdir(os.path.join(path, "_retained", "00000001"))
    assert os.path.isdir(os.path.join(path, "_retained", "00000002"))
    assert {e for e, _ in layout_snapshots(path)} == {0, 1, 2}

    out = vacuum_layout(path, keep_epochs=1)
    assert out == {"removed": [1], "kept": [2]}
    assert not os.path.isdir(os.path.join(path, "_retained", "00000001"))
    assert {e for e, _ in layout_snapshots(path)} == {1, 2}
    with pytest.raises(ValueError, match="no longer readable"):
        IvfSq8Index.load(spark, path, as_of=(0, 1))
    assert IvfSq8Index.load(spark, path, as_of=(1, 0)).codes.count() > 0

    out = vacuum_layout(path, keep_epochs=0)
    assert out == {"removed": [2], "kept": []}
    with pytest.raises(ValueError, match="no longer readable"):
        IvfSq8Index.load(spark, path, as_of=(1, 0))
    # the tip is untouched by vacuum
    tip = IvfSq8Index.load(spark, path)
    assert {1, 2} & {
        r["vec_id"] for r in tip.codes.select("vec_id").collect()
    } == set()


def test_reader_recovers_its_snapshot_through_a_fold(
    spark, embeddings, tmp_path
):
    """The reader-isolation half of retention: a fold RENAMES the cells
    a live reader's plans reference (pre-retention it deleted them), so
    an in-flight handle over the old paths dies loudly — but its data
    now survives at the retained path, and re-loading with the
    remembered ``(epoch, seq)`` bound reproduces the exact snapshot the
    reader was on. Loud failure + lossless recovery, instead of the old
    loud failure + gone-forever."""
    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        layout_snapshots,
    )

    emb = embeddings.select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    path = str(tmp_path / "reader_iso")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)
    IvfSq8Index.load(spark, path).delete([5], path=path)  # (0, 1)

    reader = IvfSq8Index.load(spark, path)  # tip handle at (0, 1)
    bound = max(layout_snapshots(path))  # what the reader remembers
    assert bound == (0, 1)
    before = reader.search(
        None, qvec, k=8, nprobe=4, shortlist=40
    ).collect()

    IvfSq8Index.load(spark, path).save(path)  # FOLD → epoch 1

    # the stale handle's plans reference renamed paths — loud, not wrong
    with pytest.raises(Exception, match="(?i)file|path|exist"):
        reader.search(None, qvec, k=8, nprobe=4, shortlist=40).collect()
    # recovery: the remembered bound resolves through the retained chain
    # to the bit-identical snapshot
    again = (
        IvfSq8Index.load(spark, path, as_of=bound)
        .search(None, qvec, k=8, nprobe=4, shortlist=40)
        .collect()
    )
    assert [(r["vec_id"], r["score"]) for r in again] == [
        (r["vec_id"], r["score"]) for r in before
    ]


def test_maintenance_tick_keep_epochs_bounds_retention(
    spark, embeddings, tmp_path
):
    """``maintenance_tick(keep_epochs=K)`` makes the compactor loop
    self-contained on storage: each folding tick vacuums retained
    versions past the budget in the same lease hold, so a per-trigger
    compactor holds exactly K pre-fold snapshots instead of one per
    trigger forever. Default (None) retains everything."""
    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        _retained_epochs,
        maintenance_tick,
    )

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "tick_budget")
    IvfSq8Index.build(emb, n_centroids=4).save(path)

    for i, vid in enumerate((1, 2, 3), start=1):
        IvfSq8Index.load(spark, path).delete([vid], path=path)
        out = maintenance_tick(
            IvfSq8Index,
            spark,
            path,
            max_data_commits=0,
            max_tombstone_commits=0,
            keep_epochs=1,
        )
        assert out["folded"] and "vacuum" in out
        # exactly ONE retained version survives each tick: the newest
        assert _retained_epochs(path) == [i]
    # the surviving pre-fold bound reads; older ones are expired loudly
    assert IvfSq8Index.load(spark, path, as_of=(2, 0)).codes.count() > 0
    with pytest.raises(ValueError, match="no longer readable"):
        IvfSq8Index.load(spark, path, as_of=(1, 0))

    # default keeps everything: the next fold adds a version, vacuums none
    IvfSq8Index.load(spark, path).delete([4], path=path)
    out = maintenance_tick(
        IvfSq8Index, spark, path, max_data_commits=0, max_tombstone_commits=0
    )
    assert out["folded"] and "vacuum" not in out
    assert _retained_epochs(path) == [3, 4]


def test_rebuild_retains_pre_rebuild_snapshot_with_its_own_quantizers(
    spark, embeddings, tmp_path
):
    """A rebuild RETRAINS the scaler/quantizers; the retained
    pre-rebuild snapshot must score with ITS epoch's frozen components
    (the retained meta.json), not the tip's — served results bit-equal
    to what the pre-rebuild tip served."""
    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        rebuild_layout,
    )

    emb = embeddings.select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    path = str(tmp_path / "ret_rebuild")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)
    # a mutation narrows the visible corpus, so the rebuild's retrained
    # scaler genuinely differs from the build's
    IvfSq8Index.load(spark, path).delete(
        emb.where(F.col("vec_id") % 3 == 1).select("vec_id"), path=path
    )
    pre = IvfSq8Index.load(spark, path)
    pre_top = [
        (r["vec_id"], r["score"])
        for r in pre.search(None, qvec, k=8, nprobe=4, shortlist=40).collect()
    ]
    pre_scaler = (list(pre.mins), list(pre.deltas))

    rebuild_layout(IvfSq8Index, spark, path)  # full rewrite → epoch 1

    snap = IvfSq8Index.load(spark, path, as_of=(0, 1))
    assert (list(snap.mins), list(snap.deltas)) == pre_scaler
    got = [
        (r["vec_id"], r["score"])
        for r in snap.search(None, qvec, k=8, nprobe=4, shortlist=40).collect()
    ]
    assert got == pre_top
    # and the tip serves the REBUILT layout (log folded away)
    assert not os.path.isdir(os.path.join(path, "batches"))


def test_time_travel_snapshots_are_read_only(spark, embeddings, tmp_path):
    """Every mutating verb refuses a time-travel handle — a fold from a
    snapshot would rewrite the base to the OLD view and delete the batch
    dirs, destroying every commit newer than the bound; upsert/delete
    would tombstone against a stale view. Both tiers share the guard."""
    import pytest as _pytest

    from whatsapp_vectordb_spark.operators.ann import IvfPqIndex, IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "tt_guard_sq8")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)
    IvfSq8Index.load(spark, path).delete([1], path=path)

    snap = IvfSq8Index.load(spark, path, as_of=0)
    batch = emb.where(F.col("vec_id") < 3)
    for verb in (
        lambda: snap.upsert(batch, path=path),
        lambda: snap.add_batch(batch, path=path),
        lambda: snap.delete([2], path=path),
        lambda: snap.save(path),
    ):
        with _pytest.raises(RuntimeError, match="read-only as_of="):
            verb()
    # guard fired BEFORE any commit: the log still holds exactly seq1
    assert IvfSq8Index.load(spark, path).codes.count() == emb.count() - 1

    pq_path = str(tmp_path / "tt_guard_pq")
    IvfPqIndex.build(emb, n_centroids=4, m=4, ksub=16, sample_rows=200).save(
        pq_path
    )
    IvfPqIndex.load(spark, pq_path).delete([1], path=pq_path)
    pq_snap = IvfPqIndex.load(spark, pq_path, as_of=1)
    with _pytest.raises(RuntimeError, match="read-only as_of="):
        pq_snap.upsert(batch, path=pq_path)
    with _pytest.raises(RuntimeError, match="read-only as_of="):
        pq_snap.save(pq_path)


def test_time_travel_pq_tier_matches_commit_log(spark, embeddings, tmp_path):
    """The PQ tier shares the snapshot rule (one commit-log shape for
    both persisted tiers): bound visibility on codes AND the co-located
    float store, tip == plain load."""
    from whatsapp_vectordb_spark.operators.ann import IvfPqIndex

    emb = embeddings.select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    n = emb.count()
    path = str(tmp_path / "tt_pq")
    IvfPqIndex.build(
        emb, n_centroids=4, m=4, ksub=16, sample_rows=200
    ).save(path, store_vectors=True)

    clones = emb.where(F.col("vec_id") % 10 == 3).select(
        "vec_id", F.lit(qvec).cast("array<float>").alias("embedding")
    )
    IvfPqIndex.load(spark, path).upsert(clones, path=path)  # seq1
    IvfPqIndex.load(spark, path).delete(  # seq2
        emb.where(F.col("vec_id") % 20 == 3).select("vec_id"), path=path
    )

    for bound, expected in {
        1: n,
        2: n - emb.where(F.col("vec_id") % 20 == 3).count(),
    }.items():
        snap = IvfPqIndex.load(spark, path, as_of=bound)
        assert snap.codes.count() == expected, f"as_of={bound}"
        assert snap.vectors.count() == expected, f"as_of={bound}"
    assert (
        IvfPqIndex.load(spark, path).codes.count()
        == IvfPqIndex.load(spark, path, as_of=2).codes.count()
    )


def test_maintenance_tick_policy(spark, embeddings, tmp_path):
    """``maintenance_tick`` is the compactor loop's one decision: under
    both thresholds it does nothing (and costs no Spark job beyond the
    listdir); over either it folds the TIP and the accumulated commit
    state resets — with the served id set unchanged by the fold. A
    second tick right after is a no-op."""
    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        maintenance_tick,
    )

    emb = embeddings.select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    path = str(tmp_path / "tick_sq8")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)

    clones = emb.where(F.col("vec_id") % 10 == 3).select(
        "vec_id", F.lit(qvec).cast("array<float>").alias("embedding")
    )
    IvfSq8Index.load(spark, path).upsert(clones, path=path)
    IvfSq8Index.load(spark, path).delete(
        emb.where(F.col("vec_id") % 20 == 3).select("vec_id"), path=path
    )

    # under both thresholds: nothing happens, commit log untouched
    r = maintenance_tick(
        IvfSq8Index, spark, path, max_data_commits=8, max_tombstone_commits=4
    )
    assert r["folded"] is False
    assert r["before"]["batch_commits"] == 2
    assert r["after"] == r["before"]

    pre = {
        r["vec_id"]
        for r in IvfSq8Index.load(spark, path)
        .codes.select("vec_id")
        .collect()
    }

    # tombstone threshold crossed: fold, state resets, visibility intact
    r = maintenance_tick(
        IvfSq8Index, spark, path, max_data_commits=8, max_tombstone_commits=1
    )
    assert r["folded"] is True
    assert r["after"]["batch_commits"] == 0
    assert r["after"]["tombstone_commits"] == 0
    post = IvfSq8Index.load(spark, path)
    assert {
        x["vec_id"] for x in post.codes.select("vec_id").collect()
    } == pre
    assert post.vectors.count() == len(pre)

    # immediately after a fold the tick is a no-op again
    r = maintenance_tick(
        IvfSq8Index, spark, path, max_data_commits=0, max_tombstone_commits=1
    )
    assert r["folded"] is False


def test_rebuild_layout_retrains_from_visible_corpus(
    spark, embeddings, tmp_path
):
    """``rebuild_layout`` re-trains quantizer + scaler from the CURRENT
    visible corpus and atomically replaces the layout: the commit log
    folds away, visibility is exactly the tip's, serving is unchanged
    (exact re-rank over the same floats), and an upserted out-of-range
    vector — clamped under the stale scaler — widens the retrained one
    (the drift this verb exists to fix)."""
    import pytest as _pytest

    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        layout_mutation_stats,
        rebuild_layout,
    )

    emb = embeddings.select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    path = str(tmp_path / "rebuild_sq8")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)
    old_deltas = IvfSq8Index.load(spark, path).deltas

    # mutate: clone-upsert, delete, and ONE out-of-range upsert (2x the
    # query vector — beyond the trained max, so the stale scaler clamps)
    clones = emb.where(F.col("vec_id") % 10 == 3).select(
        "vec_id", F.lit(qvec).cast("array<float>").alias("embedding")
    )
    IvfSq8Index.load(spark, path).upsert(clones, path=path)
    IvfSq8Index.load(spark, path).delete(
        emb.where(F.col("vec_id") % 20 == 3).select("vec_id"), path=path
    )
    big = [2.0 * float(x) for x in qvec]
    IvfSq8Index.load(spark, path).upsert(
        spark.createDataFrame(
            [(10_001, big)], "vec_id long, embedding array<float>"
        ),
        path=path,
    )

    tip_ids = {
        r["vec_id"]
        for r in IvfSq8Index.load(spark, path)
        .codes.select("vec_id")
        .collect()
    }
    tip_top = IvfSq8Index.load(spark, path).search(
        None, qvec, k=10, nprobe=4, shortlist=200
    ).collect()

    rebuilt = rebuild_layout(IvfSq8Index, spark, path, n_centroids=4)
    stats = layout_mutation_stats(path)
    assert stats["batch_commits"] == 0 and stats["tombstone_commits"] == 0
    re = IvfSq8Index.load(spark, path)
    assert {
        r["vec_id"] for r in re.codes.select("vec_id").collect()
    } == tip_ids
    assert re.vectors.count() == len(tip_ids)
    # scaler retrained: the 2x vector widened at least one dim's range
    assert re.deltas != old_deltas
    # serving from the rebuilt layout: exact re-rank unchanged (covering
    # shortlist; the out-of-range row now scores unclamped and wins)
    new_top = rebuilt.search(None, qvec, k=10, nprobe=4, shortlist=200).collect()
    assert [(r["vec_id"], r["score"]) for r in new_top] == [
        (r["vec_id"], r["score"]) for r in tip_top
    ]
    assert new_top[0]["vec_id"] == 10_001

    # codes-only layouts cannot re-train — loud, never silent
    bare = str(tmp_path / "rebuild_bare")
    IvfSq8Index.build(emb, n_centroids=4).save(bare)
    with _pytest.raises(ValueError, match="float store"):
        rebuild_layout(IvfSq8Index, spark, bare, n_centroids=4)


def test_time_travel_bound_validation_and_snapshot_listing_guards(
    spark, embeddings, tmp_path
):
    """Review hardening: an out-of-range ``as_of`` raises instead of
    silently serving the tip under a snapshot's name (seqs RESET at
    every fold — a stale bound is a real hazard, not a typo);
    ``layout_snapshots`` on a path holding no layout raises instead of
    fabricating a phantom base snapshot; a declined ``maintenance_tick``
    returns distinct before/after dicts (no aliasing)."""
    import pytest as _pytest

    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        layout_snapshots,
        maintenance_tick,
    )

    with _pytest.raises(FileNotFoundError, match="no saved layout"):
        layout_snapshots(str(tmp_path / "nope"))

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "tt_bounds")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)
    IvfSq8Index.load(spark, path).delete([1], path=path)  # tip seq = 1

    for bad in (-1, 2, 7):
        with _pytest.raises(ValueError, match="outside this layout"):
            IvfSq8Index.load(spark, path, as_of=bad)
    # in-range bounds (including between-commit logical points) load
    assert IvfSq8Index.load(spark, path, as_of=0).codes.count() == emb.count()
    assert (
        IvfSq8Index.load(spark, path, as_of=1).codes.count()
        == emb.count() - 1
    )

    r = maintenance_tick(
        IvfSq8Index, spark, path, max_data_commits=8, max_tombstone_commits=8
    )
    assert r["folded"] is False and r["after"] is not r["before"]
    r["after"]["batch_commits"] += 99
    assert r["before"]["batch_commits"] != r["after"]["batch_commits"]


def test_rebuild_layout_defaults_to_layout_geometry(
    spark, embeddings, tmp_path
):
    """A bare ``rebuild_layout`` (no build kwargs) re-trains with the
    LAYOUT'S geometry — cells from the centroid matrix, PQ (m, ksub)
    from the codebook shape — never ``build``'s signature defaults (a
    64-cell index rebuilt bare must not silently shrink to 16)."""
    from whatsapp_vectordb_spark.operators.ann import (
        IvfPqIndex,
        IvfSq8Index,
        rebuild_layout,
    )

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "rebuild_geom_sq8")
    IvfSq8Index.build(emb, n_centroids=6).save(path, store_vectors=True)
    rebuilt = rebuild_layout(IvfSq8Index, spark, path)
    assert rebuilt.centroids.shape[0] == 6
    assert IvfSq8Index.load(spark, path).centroids.shape[0] == 6

    pq_path = str(tmp_path / "rebuild_geom_pq")
    IvfPqIndex.build(
        emb, n_centroids=4, m=4, ksub=8, sample_rows=200
    ).save(pq_path, store_vectors=True)
    pq = rebuild_layout(IvfPqIndex, spark, pq_path)
    assert pq.centroids.shape[0] == 4
    assert pq.codebooks.shape[0] == 4 and pq.codebooks.shape[1] == 8


def test_apply_cdc_events_same_op_run_resolves_max_seq_per_id(
    spark, embeddings, tmp_path
):
    """Review finding: two upserts for ONE id inside one same-op run
    share a single layout commit, so the strictly-older mask cannot
    order them — the run itself must keep the MAX-seq event per id
    (dropDuplicates kept an arbitrary row before). Also: a bad op now
    fails the whole microbatch BEFORE any commit (a mid-loop raise left
    it half-applied, and a streaming retry would re-commit early runs
    at newer seqs than attempt one's later runs — feed order lost)."""
    import pytest as _pytest

    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        apply_cdc_events,
        layout_mutation_stats,
    )

    emb = embeddings.select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    qv = list(map(float, qvec))
    half = [0.5 * float(x) for x in qvec]
    path = str(tmp_path / "cdc_same_id")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)

    # ONE 'u' run carrying two events for id 7: seq2 (half-vector) then
    # seq5 (clone) — shuffled rows; the clone MUST win
    rows = [(7, half, "u", 2), (9, half, "u", 3), (7, qv, "u", 5)]
    events = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, op string, seq long"
    )
    assert apply_cdc_events(IvfSq8Index.load(spark, path), events, path) == 1
    re = IvfSq8Index.load(spark, path)
    top = re.search(None, qvec, k=3, nprobe=4, shortlist=20).collect()
    s0 = [r["score"] for r in top if r["vec_id"] == 0][0]
    s7 = [r["score"] for r in top if r["vec_id"] == 7]
    assert s7 and s7[0] == s0, top  # id 7 serves the seq-5 clone
    # exactly one row for id 7 anywhere
    assert re.codes.where(F.col("vec_id") == 7).count() == 1

    # a bad op anywhere fails the WHOLE microbatch before any commit
    pre = layout_mutation_stats(path)["batch_commits"]
    bad = spark.createDataFrame(
        [(1, None, "d", 1), (2, qv, "x", 2)],
        "vec_id long, embedding array<float>, op string, seq long",
    )
    with _pytest.raises(ValueError, match="no run of this microbatch"):
        apply_cdc_events(IvfSq8Index.load(spark, path), bad, path)
    assert layout_mutation_stats(path)["batch_commits"] == pre
    assert IvfSq8Index.load(spark, path).codes.where(
        F.col("vec_id") == 1
    ).count() == 1  # the 'd' run did NOT apply


# --------------------------------------------------------------------------
# Round 17: verify_layout — the fsck verb.
# --------------------------------------------------------------------------


def _fsck_layout(spark, embeddings, tmp_path, name):
    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / name)
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    clones = emb.where(F.col("vec_id") % 10 == 3).select(
        "vec_id", F.lit(qvec).cast("array<float>").alias("embedding")
    )
    IvfSq8Index.load(spark, path).upsert(clones, path=path)
    IvfSq8Index.load(spark, path).delete(
        emb.where(F.col("vec_id") % 20 == 3).select("vec_id"), path=path
    )
    return path


def test_verify_layout_clean_is_ok(spark, embeddings, tmp_path):
    from whatsapp_vectordb_spark.operators.ann import verify_layout

    path = _fsck_layout(spark, embeddings, tmp_path, "fsck_clean")
    rep = verify_layout(path)
    assert rep["ok"] and rep["errors"] == [] and rep["warnings"] == []
    assert rep["info"]["commits"] == 2
    # deep check passes too and actually ran
    deep = verify_layout(path, spark=spark)
    assert deep["ok"] and deep["info"].get("deep_checked")


def test_verify_layout_flags_duplicate_seq_and_orphans(
    spark, embeddings, tmp_path
):
    import os
    import shutil

    from whatsapp_vectordb_spark.operators.ann import verify_layout

    path = _fsck_layout(spark, embeddings, tmp_path, "fsck_dup")
    bdir = os.path.join(path, "batches")
    victim = sorted(os.listdir(bdir))[0]
    forged = f"{victim.split('_')[0]}_{'f' * 32}"
    shutil.copytree(os.path.join(bdir, victim), os.path.join(bdir, forged))
    os.makedirs(os.path.join(path, "_staging", "deadbeef"))

    rep = verify_layout(path)
    assert not rep["ok"]
    assert any("duplicate commit seq" in e for e in rep["errors"])
    assert any("_staging" in w for w in rep["warnings"])


def test_verify_layout_warns_stale_lease_and_seq_gap(
    spark, embeddings, tmp_path
):
    import json
    import os
    import shutil

    from whatsapp_vectordb_spark.operators.ann import verify_layout

    path = _fsck_layout(spark, embeddings, tmp_path, "fsck_stale")
    # dead-pid lease (pid 1 is init, alive — use an impossible pid)
    with open(os.path.join(path, "_writer.lock"), "w") as f:
        json.dump(
            {"pid": 2**22 + 12345, "host": os.uname().nodename,
             "verb": "save", "acquired_at": 0.0},
            f,
        )
    # drop commit seq 1 → gap (seq 2 remains)
    bdir = os.path.join(path, "batches")
    shutil.rmtree(os.path.join(bdir, sorted(os.listdir(bdir))[0]))

    rep = verify_layout(path)
    assert rep["ok"]  # warnings only
    assert any("stale _writer.lock" in w for w in rep["warnings"])
    assert any("seq gaps [1]" in w for w in rep["warnings"])


def test_verify_layout_errors_on_torn_retention_and_meta(
    spark, embeddings, tmp_path
):
    import os

    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        verify_layout,
    )

    path = _fsck_layout(spark, embeddings, tmp_path, "fsck_torn")
    # fold once so a retained snapshot exists (epoch 0 → 1)
    IvfSq8Index.load(spark, path).save(path)
    fold_json = os.path.join(path, "_retained", "00000001", "fold.json")
    assert os.path.exists(fold_json)
    os.remove(fold_json)
    rep = verify_layout(path)
    assert not rep["ok"]
    assert any("no fold.json" in e for e in rep["errors"])

    os.remove(os.path.join(path, "meta.json"))
    rep2 = verify_layout(path)
    assert not rep2["ok"]
    assert any("missing meta.json" in e for e in rep2["errors"])


def test_verify_layout_deep_catches_codes_vectors_divergence(
    spark, embeddings, tmp_path
):
    import glob
    import os

    from whatsapp_vectordb_spark.operators.ann import verify_layout

    path = _fsck_layout(spark, embeddings, tmp_path, "fsck_deep")
    # tear the co-located float store of the upsert commit
    bdir = os.path.join(path, "batches")
    upsert_dir = sorted(os.listdir(bdir))[0]
    parts = glob.glob(
        os.path.join(bdir, upsert_dir, "vectors", "**", "*.parquet"), recursive=True
    )
    assert parts
    os.remove(parts[0])

    assert verify_layout(path)["ok"]  # metadata level cannot see it
    deep = verify_layout(path, spark=spark)
    assert not deep["ok"]
    # either shape of the torn store: row-count divergence, or the
    # commit's only float part gone entirely
    assert any(
        "codes has" in e or "torn float store" in e for e in deep["errors"]
    )


def _jobs_run(spark, fn):
    """``fn()`` and the number of Spark jobs it ran, counted under a job
    group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_ivf_sq8_load_of_mutated_tip_runs_no_job(spark, embeddings, tmp_path):
    """Opening a tip with upsert and delete commits reads every layout
    root under the schemas meta.json records: no footer-inference job.
    Its first search runs 3 jobs: the one tombstone broadcast (reused by
    every codes and vectors branch), the shortlist broadcast, the
    result."""
    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    path = _fsck_layout(spark, embeddings, tmp_path, "jobfree_load")
    qvec = embeddings.where(F.col("vec_id") == 0).head()["embedding"]
    idx, load_jobs = _jobs_run(spark, lambda: IvfSq8Index.load(spark, path))
    assert load_jobs == 0
    rows, search_jobs = _jobs_run(
        spark, lambda: idx.search(query_vec=qvec, k=10).collect()
    )
    assert search_jobs == 3
    assert len(rows) == 10


def test_commit_writes_count_under_the_callers_job_group(
    spark, embeddings, tmp_path
):
    """A commit's independent writes run from a small thread pool; each
    carries the caller's job group into its thread, so no commit job is
    left ungrouped and a job-group tracer (perfbench's) charges the
    verb exactly what its group counts."""
    import importlib.util

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    spec = importlib.util.spec_from_file_location(
        "perfbench_spans",
        os.path.join(os.path.dirname(__file__), "..", "perfbench", "spans.py"),
    )
    spans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(spans)

    path = _fsck_layout(spark, embeddings, tmp_path, "job_groups")
    batch = embeddings.where(F.col("vec_id") % 10 == 5).select(
        (F.col("vec_id") + 90000).alias("vec_id"), "embedding"
    )
    idx = IvfSq8Index.load(spark, path)
    sc = spark.sparkContext

    def ungrouped():
        return set(sc.statusTracker().getJobIdsForGroup(None))

    before = ungrouped()
    _, grouped = _jobs_run(spark, lambda: idx.upsert(batch, path=path))
    assert ungrouped() == before
    tracer = spans.Tracer(sc, True)
    with tracer.span("ann.IvfSq8Index.upsert"):
        idx.upsert(batch, path=path)
    tracer.attribute_jobs()
    assert ungrouped() == before
    assert tracer.spans[0]["jobs"] == grouped > 0


def test_delete_of_driver_ids_runs_one_job(spark, embeddings, tmp_path):
    """Ids given as a Python iterable are driver data — deterministic and
    known non-empty — so a committed delete runs only its tombstone
    write: no pin, no emptiness job."""
    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    path = _fsck_layout(spark, embeddings, tmp_path, "delete_one_job")
    idx = IvfSq8Index.load(spark, path)
    _, jobs = _jobs_run(spark, lambda: idx.delete([3, 23], path=path))
    assert jobs == 1
    assert idx.codes.where(F.col("vec_id").isin([3, 23])).count() == 0
    reloaded = IvfSq8Index.load(spark, path)
    assert reloaded.codes.where(F.col("vec_id").isin([3, 23])).count() == 0
    assert reloaded.vectors.where(F.col("vec_id").isin([3, 23])).count() == 0


def test_ivf_sq8_upsert_commit_is_one_sorted_file_per_table(
    spark, embeddings, tmp_path
):
    """A delta commit is written flat: one file per pinned-batch
    partition, sorted by ``centroid``, which stays a data column — a
    single-partition upsert spanning several cells commits exactly one
    parquet file per table and no ``centroid=N`` dirs."""
    import glob

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "flat_delta")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)
    batch = emb.where(F.col("vec_id") % 10 == 5).select(
        (F.col("vec_id") + 90000).alias("vec_id"), "embedding"
    ).coalesce(1)
    IvfSq8Index.load(spark, path).upsert(batch, path=path)
    (commit,) = os.listdir(os.path.join(path, "batches"))
    for sub in ("codes", "vectors"):
        root = os.path.join(path, "batches", commit, sub)
        files = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        assert len(files) == 1, files
        assert os.path.dirname(files[0]) == root, files
        cells = [
            r["centroid"]
            for r in spark.read.parquet(files[0]).select("centroid").collect()
        ]
        assert len(set(cells)) >= 2, "the batch must span several cells"
        assert cells == sorted(cells)


def test_ivf_sq8_mixed_delta_layouts_load_serve_and_fold(
    spark, embeddings, tmp_path
):
    """A tip whose first commit holds ``centroid=N`` partitioned delta
    tables (the layout deltas were written in before they were flat)
    and whose second is a flat upsert: it loads with no job, serves the
    rows an all-flat twin serves, verifies clean, and its fold lays out
    the cells of both commits."""
    import shutil

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index, verify_layout

    emb = embeddings.select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    first = emb.where(F.col("vec_id") % 10 == 3).select(
        "vec_id", F.lit(qvec).cast("array<float>").alias("embedding")
    )
    second = emb.where(F.col("vec_id") % 25 == 7).select(
        (F.col("vec_id") + 90000).alias("vec_id"), "embedding"
    )
    built = IvfSq8Index.build(emb, n_centroids=4)
    paths = {}
    for name in ("mixed", "flat"):
        paths[name] = path = str(tmp_path / name)
        built.save(path, store_vectors=True)
        IvfSq8Index.load(spark, path).upsert(first, path=path)
        if name == "mixed":
            # rewrite the first commit's tables as the partitioned layout
            (commit,) = os.listdir(os.path.join(path, "batches"))
            for sub in ("codes", "vectors"):
                root = os.path.join(path, "batches", commit, sub)
                spark.read.parquet(root).write.partitionBy("centroid").parquet(
                    root + "_part"
                )
                shutil.rmtree(root)
                os.rename(root + "_part", root)
            assert any(
                d.startswith("centroid=")
                for d in os.listdir(os.path.join(path, "batches", commit, "codes"))
            )
        IvfSq8Index.load(spark, path).upsert(second, path=path)

    def served(path):
        idx = IvfSq8Index.load(spark, path)
        return sorted(
            tuple(r)
            for r in idx.search(query_vec=qvec, k=20, nprobe=4).collect()
        )

    mixed = paths["mixed"]
    assert verify_layout(mixed, spark=spark)["ok"]
    _, load_jobs = _jobs_run(spark, lambda: IvfSq8Index.load(spark, mixed))
    assert load_jobs == 0
    assert served(mixed) == served(paths["flat"])

    cells = {
        r["centroid"]
        for b in os.listdir(os.path.join(mixed, "batches"))
        for r in spark.read.parquet(os.path.join(mixed, "batches", b, "codes"))
        .select("centroid")
        .distinct()
        .collect()
    }
    before = {
        d: os.path.getmtime(os.path.join(mixed, "codes", d))
        for d in os.listdir(os.path.join(mixed, "codes"))
        if d.startswith("centroid=")
    }
    for path in paths.values():
        IvfSq8Index.load(spark, path).save(path)  # the fold
    assert not os.path.isdir(os.path.join(mixed, "batches"))
    for c in cells:
        d = os.path.join(mixed, "codes", f"centroid={c}")
        assert os.path.getmtime(d) != before.get(f"centroid={c}"), d
    assert verify_layout(mixed, spark=spark)["ok"]
    base = {
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(mixed, "codes")).collect()
    }
    assert base >= {r["vec_id"] for r in first.union(second).collect()}
    assert served(mixed) == served(paths["flat"])


def test_ivf_sq8_layout_without_recorded_schemas_serves_same_rows(
    spark, embeddings, tmp_path
):
    """A meta.json with no ``schemas`` (a layout saved before they were
    recorded) falls back to inferring from the first root's footer and
    serves exactly the rows the recorded-schema read serves."""
    import json

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    path = _fsck_layout(spark, embeddings, tmp_path, "legacy_meta")
    qvec = embeddings.where(F.col("vec_id") == 0).head()["embedding"]

    def served():
        idx = IvfSq8Index.load(spark, path)
        return (
            sorted(map(tuple, idx.codes.select("vec_id", "centroid").collect())),
            idx.search(query_vec=qvec, k=10).collect(),
        )

    recorded = served()
    meta_path = os.path.join(path, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    assert set(meta["schemas"]) == {"codes", "vectors", "deletes"}
    del meta["schemas"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    assert served() == recorded


def test_ivf_sq8_int_typed_delete_on_long_ids_masks_after_reload(
    spark, embeddings, tmp_path
):
    """Tombstones are written in the index's id type: a delete through an
    int-typed id frame on a long-id index still matches the recorded
    ``deletes`` schema, and the reloaded tip masks the ids."""
    import glob

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index, verify_layout

    emb = embeddings.select("vec_id", "embedding")
    assert emb.schema["vec_id"].dataType.simpleString() == "bigint"
    path = str(tmp_path / "int_delete")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)
    ids = spark.createDataFrame([(7,), (11,)], "vec_id int")
    IvfSq8Index.load(spark, path).delete(ids, path=path)

    (part,) = glob.glob(os.path.join(path, "batches", "*", "deletes", "*.parquet"))
    assert spark.read.parquet(part).schema["vec_id"].dataType.simpleString() == "bigint"
    tip = IvfSq8Index.load(spark, path)
    assert tip.codes.where(F.col("vec_id").isin(7, 11)).count() == 0
    assert tip.vectors.where(F.col("vec_id").isin(7, 11)).count() == 0
    assert tip.codes.count() == emb.count() - 2
    assert verify_layout(path, spark=spark)["ok"]


def test_ivf_sq8_add_batch_repeated_id_commits_one_code_per_float(
    spark, embeddings, tmp_path
):
    """A plain ``add_batch`` derives codes and floats from ONE assignment
    frame: two rows with one id commit 2 code rows and 2 float rows, and
    the tip serves both."""
    import glob

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index, verify_layout

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "repeat_id")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)
    v0, v1 = [r["embedding"] for r in emb.where(F.col("vec_id") < 2).collect()]
    batch = spark.createDataFrame(
        [(1000, v0), (1000, v1)], emb.schema
    )
    IvfSq8Index.load(spark, path).add_batch(batch, path=path)

    (commit,) = glob.glob(os.path.join(path, "batches", "*"))
    assert spark.read.parquet(os.path.join(commit, "codes")).count() == 2
    assert spark.read.parquet(os.path.join(commit, "vectors")).count() == 2
    rep = verify_layout(path, spark=spark)
    assert rep["ok"], rep
    tip = IvfSq8Index.load(spark, path)
    assert tip.codes.where(F.col("vec_id") == 1000).count() == 2


def test_verify_layout_deep_flags_root_disagreeing_with_recorded_schema(
    spark, embeddings, tmp_path
):
    """Readers trust the schemas meta.json records, so the deep check
    compares every root's footer with them: a hand-written commit whose
    codes hold the id under another type and whose vectors lack the
    float column is reported, column by column."""
    from whatsapp_vectordb_spark.operators.ann import verify_layout

    path = _fsck_layout(spark, embeddings, tmp_path, "fsck_schema")
    assert verify_layout(path, spark=spark)["ok"]
    commit = os.path.join(path, "batches", f"{3:08d}_{'e' * 32}")
    rows = spark.createDataFrame(
        [("x1", [1, 2], 0, 3)],
        "vec_id string, sq8_codes array<smallint>, centroid int, _seq long",
    )
    rows.write.partitionBy("centroid").parquet(os.path.join(commit, "codes"))
    spark.createDataFrame(
        [(1, 0, 3)], "vec_id long, centroid int, _seq long"
    ).write.partitionBy("centroid").parquet(os.path.join(commit, "vectors"))

    assert verify_layout(path)["ok"]  # the metadata walk reads no footer
    deep = verify_layout(path, spark=spark)
    assert not deep["ok"]
    errs = deep["errors"]
    assert any(
        "codes root at seq 3" in e and "'vec_id' is string" in e for e in errs
    ), errs
    assert any(
        "vectors root at seq 3" in e and "'embedding'" in e and "missing" in e
        for e in errs
    ), errs


def test_fused_sq8_train_cell_counts_matches_train_and_tripwire(spark, embeddings):
    """r18: IvfSq8Index.build's fused measurement pass must produce a
    scaler BIT-IDENTICAL to sq8_train and to a Spark min/max aggregate,
    and a tripwire decision identical to the old cell_stats-over-MLlib
    route."""
    from whatsapp_vectordb_spark.operators.ann import (
        IvfIndex,
        _sq8_train_cell_counts,
        assign_nearest_centroid,
        sq8_train,
    )

    emb = embeddings.select("vec_id", "embedding")
    idx = IvfIndex.build(emb, n_centroids=8)
    assigned = assign_nearest_centroid(emb, idx.centroids, "embedding")
    mins_f, deltas_f, counts = _sq8_train_cell_counts(assigned, "embedding", 8)
    assert (mins_f, deltas_f) == sq8_train(emb) == _sq8_reference(emb)
    total = sum(counts)
    assert total == emb.count()
    old_share = idx.cell_stats()["max_share"]
    assert (max(counts) / total > 0.5) == (old_share > 0.5)
    # on the gate fixture the shares agree to the stats' own rounding
    assert abs(max(counts) / total - old_share) < 5e-4


def test_ivf_sq8_build_runs_few_jobs_without_mllib(spark, embeddings, monkeypatch):
    """The build fits its quantizer on a driver sample, never through
    MLlib: over a file scan, 2 jobs (scaler + row count, sample) when the
    sample is the whole corpus, 3 when it is not (one more pass counts
    the cells), all under the caller's job group. An in-memory frame
    whose rows all fit the sample sorts them globally (Spark drops the
    limit): still at most 5."""
    import numpy as np
    from pyspark.ml.clustering import KMeans

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    def no_mllib(*a, **kw):
        raise AssertionError("IvfSq8Index.build must not fit MLlib KMeans")

    monkeypatch.setattr(KMeans, "fit", no_mllib)
    emb = embeddings.select("vec_id", "embedding")
    whole, jobs = _jobs_run(spark, lambda: IvfSq8Index.build(emb, n_centroids=8))
    assert jobs == 2
    part, jobs = _jobs_run(
        spark, lambda: IvfSq8Index.build(emb, n_centroids=8, sample_rows=200)
    )
    assert jobs == 3
    local = spark.createDataFrame(emb.collect(), emb.schema)
    mem, jobs = _jobs_run(spark, lambda: IvfSq8Index.build(local, n_centroids=8))
    assert jobs <= 5
    assert np.array_equal(mem.centroids, whole.centroids)
    for idx in (whole, part, mem):
        assert idx.centroids.shape == (8, 64)
        assert idx.cell_stats()["max_share"] <= 0.5
        assert idx.codes.count() == emb.count()


def test_ivf_sq8_build_is_deterministic_across_partitionings(spark, embeddings):
    """One frame built on 1 and on 3 partitions with one seed gives the
    same centroids, scaler and codes — the sample is ranked by id hash,
    the fit runs on the driver — and the scaler is ``sq8_train``'s."""
    import numpy as np

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index, sq8_train

    emb = embeddings.select("vec_id", "embedding")
    for kw in (dict(n_centroids=8), dict(n_centroids=8, sample_rows=200)):
        one, three = (
            IvfSq8Index.build(emb.repartition(n), seed=7, **kw) for n in (1, 3)
        )
        assert np.array_equal(one.centroids, three.centroids), kw
        assert (one.mins, one.deltas) == (three.mins, three.deltas) == sq8_train(emb)

        def rows(idx):
            return sorted(
                (r["vec_id"], tuple(r["sq8_codes"]), r["centroid"])
                for r in idx.codes.collect()
            )

        assert rows(one) == rows(three), kw


def test_ivf_sq8_build_falls_back_on_coincident_centroids(
    spark, embeddings, monkeypatch
):
    """The build's degenerate-layout tripwire: a driver fit whose
    centroids coincide puts every row in one cell, and the build must
    refit with ``build_portable`` — whether the counts come from the
    sample (the sample is the corpus) or from a pass over the corpus."""
    import numpy as np

    from whatsapp_vectordb_spark.operators import ann
    from whatsapp_vectordb_spark.operators.ann import IvfIndex, IvfSq8Index

    def coincident(x, k, seed, iters):
        return np.tile(x.mean(axis=0), (k, 1)), np.zeros(len(x), dtype=np.int64)

    monkeypatch.setattr(ann, "_kmeanspp_lloyd", coincident)
    emb = embeddings.select("vec_id", "embedding")
    portable = IvfIndex.build_portable(emb, n_centroids=8).centroids
    for kw in (dict(), dict(sample_rows=200)):
        idx = IvfSq8Index.build(emb, n_centroids=8, **kw)
        assert idx.cell_stats()["max_share"] <= 0.5, kw
        if not kw:
            assert np.array_equal(idx.centroids, portable)


def test_ivf_sq8_build_small_corpus_edges(spark, monkeypatch):
    """Corpora smaller than the cell count: 3 distinct rows at 4 cells
    give 3 centroids and code every row; 4 copies of one vector plus one
    other still trip into ``build_portable``; an empty or all-NULL
    corpus raises ``ValueError``."""
    import numpy as np

    from whatsapp_vectordb_spark.operators.ann import IvfIndex, IvfSq8Index

    schema = "vec_id long, embedding array<double>"
    x = np.random.default_rng(3).normal(size=(3, 8))
    three = spark.createDataFrame([(i, x[i].tolist()) for i in range(3)], schema)
    idx = IvfSq8Index.build(three, n_centroids=4)
    assert idx.centroids.shape == (3, 8)
    coded = idx.codes.collect()
    assert sorted(r["vec_id"] for r in coded) == [0, 1, 2]
    assert all(len(r["sq8_codes"]) == 8 and 0 <= r["centroid"] < 3 for r in coded)

    calls = []
    real = IvfIndex.build_portable.__func__

    def spy(cls, df, **kw):
        calls.append(kw)
        return real(cls, df, **kw)

    monkeypatch.setattr(IvfIndex, "build_portable", classmethod(spy))
    v = x[0].tolist()
    dup = spark.createDataFrame(
        [(i, v) for i in range(4)] + [(4, x[1].tolist())], schema
    )
    IvfSq8Index.build(dup, n_centroids=2)
    assert len(calls) == 1

    for bad in (three.limit(0), spark.createDataFrame([(0, None), (1, None)], schema)):
        with pytest.raises(ValueError, match="no non-NULL vector"):
            IvfSq8Index.build(bad, n_centroids=4)


def test_ivf_sq8_search_plan_cost_flat_in_dim(spark):
    """Planning one ``IvfSq8Index.search`` must cost O(1) py4j round trips
    in the vector dimension: the query, its int64 ADC weights and the
    re-rank query vector cross as whole constant arrays (``array_lit``),
    never one call per element. Counts the driver→JVM commands sent while
    BUILDING the frame (no collect) at dim 16 and dim 256; py4j's
    reference-release messages are excluded, since their timing follows
    Python garbage collection, not planning."""
    import gc

    import numpy as np
    import py4j.clientserver as clientserver
    from py4j.protocol import MEMORY_COMMAND_NAME

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    rng = np.random.default_rng(7)
    counts = {}
    send = clientserver.ClientServerConnection.send_command
    for dim in (16, 256):
        x = rng.normal(size=(200, dim)).astype(np.float32)
        df = spark.createDataFrame(
            [(i, x[i].tolist()) for i in range(len(x))],
            "vec_id long, embedding array<float>",
        )
        idx = IvfSq8Index.build(df, n_centroids=4)
        q = x[3].tolist()
        idx.search(query_vec=q, k=5)  # warm-up: lazy imports, cached handles
        gc.collect()
        n = [0]

        def counting(self, command, *args, **kwargs):
            if not command.startswith(MEMORY_COMMAND_NAME):
                n[0] += 1
            return send(self, command, *args, **kwargs)

        clientserver.ClientServerConnection.send_command = counting
        try:
            idx.search(query_vec=q, k=5)
        finally:
            clientserver.ClientServerConnection.send_command = send
        counts[dim] = n[0]
    assert abs(counts[256] - counts[16]) <= 16, counts
