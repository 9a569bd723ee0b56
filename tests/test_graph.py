"""Integer-exact PageRank (operators/graph.py)."""

import pytest


def _py_pagerank(edges, iters=3, scale=1_000_000, num=85, den=100):
    base = scale * (den - num) // den
    nodes = {n for e in edges for n in e}
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {n: scale for n in nodes}
    for _ in range(iters):
        inc = {n: 0 for n in nodes}
        for s, d in edges:
            inc[d] += r[s] // outdeg[s]
        r = {n: base + (num * inc[n]) // den for n in nodes}
    return r


@pytest.mark.parametrize(
    "edges",
    [
        [(1, 2), (2, 3), (3, 1)],                       # cycle: symmetric ranks
        [(1, 2), (3, 2), (4, 2), (2, 1)],               # hub node 2
        [(1, 2), (1, 3), (2, 3)],                       # node 3 dangling (leaks)
    ],
)
def test_pagerank_matches_python_mirror(spark, edges):
    from whatsapp_vectordb_spark.operators.graph import pagerank

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank_scaled"] for r in pagerank(df, iters=3).collect()}
    assert got == _py_pagerank(edges)


def test_pagerank_hub_ranks_highest(spark):
    from whatsapp_vectordb_spark.operators.graph import pagerank

    edges = [(i, 99) for i in range(1, 9)] + [(99, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank_scaled"] for r in pagerank(df, iters=5).collect()}
    assert max(got, key=got.get) == 99


def test_pagerank_rejects_zero_iters(spark):
    from whatsapp_vectordb_spark.operators.graph import pagerank

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(df, iters=0)


class TestTriangleCount:
    def test_known_graph(self, spark):
        from whatsapp_vectordb_spark.operators.graph import triangle_count

        # K4 minus edge (3,4): triangles {1,2,3}, {1,2,4}; dup/reversed/self
        # edges must collapse
        edges = spark.createDataFrame(
            [
                (1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (2, 4),
                (3, 3),  # self-loop dropped
                (4, 2),  # duplicate of (2, 4)
            ],
            "src long, dst long",
        )
        r = triangle_count(edges).head()
        assert (r["n_triangles"], r["n_edges"], r["n_nodes"]) == (2, 5, 4)

    def test_triangle_free_graph(self, spark):
        from whatsapp_vectordb_spark.operators.graph import triangle_count

        # a path 1-2-3-4 has wedges but no triangles
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4)], "src long, dst long"
        )
        r = triangle_count(edges).head()
        assert (r["n_triangles"], r["n_edges"], r["n_nodes"]) == (0, 3, 4)


# --------------------------------------------------------------------------
# Round 17: graph-ANN beam search (operators/ann.py graph_beam_topk).
# --------------------------------------------------------------------------


def _py_beam(vecs, edges, qvec, k, beam, iters, entry):
    """Pure-Python mirror of the documented traversal contract: entry =
    lowest ids, expand frontier ∪ out-neighbors, rank by (rounded cosine
    desc, id asc), visited top-k."""
    import math

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(num / (na * nb), 6)

    score = {i: cos(v, qvec) for i, v in vecs.items()}
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    frontier = sorted(vecs)[:entry]
    visited = set(frontier)
    for _ in range(iters):
        cand = set(frontier)
        for f in frontier:
            cand.update(out.get(f, []))
        frontier = sorted(cand, key=lambda i: (-score[i], i))[:beam]
        visited.update(cand)
    ranked = sorted(visited, key=lambda i: (-score[i], i))[:k]
    return [(i, score[i]) for i in ranked]


def test_graph_beam_matches_python_mirror(spark):
    import numpy as np

    from whatsapp_vectordb_spark.operators.ann import graph_beam_topk

    rng = np.random.default_rng(7)
    vecs = {i: [float(x) for x in rng.integers(-5, 6, size=6)] for i in range(30)}
    # brute-force top-2 out-neighbors per node — a real (if tiny) kNN graph
    import math

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        )

    edges = []
    for i, v in vecs.items():
        nbrs = sorted(
            (j for j in vecs if j != i),
            key=lambda j: (-cos(v, vecs[j]), j),
        )[:2]
        edges.extend((i, j) for j in nbrs)
    qvec = vecs[17]

    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    edf = spark.createDataFrame(edges, "src long, nbr long")
    got = [
        (r["vec_id"], r["score"])
        for r in graph_beam_topk(
            emb, edf, qvec, k=8, beam_width=4, iters=3, n_entry=2
        ).collect()
    ]
    assert got == _py_beam(vecs, edges, qvec, k=8, beam=4, iters=3, entry=2)


def test_graph_beam_is_deterministic_and_visited_bounded(spark, embeddings):
    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.operators.ann import graph_beam_topk, knn_graph_lsh

    emb = embeddings.select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    edges = knn_graph_lsh(emb, k=3, n_planes=32, bands=4, dim=64)
    a = graph_beam_topk(emb, edges, qvec, k=10, beam_width=4, iters=2).collect()
    b = graph_beam_topk(emb, edges, qvec, k=10, beam_width=4, iters=2).collect()
    assert a == b
    # visited ⊆ entry + iters·beam·(graph_k+1) candidates → k rows at most
    assert 0 < len(a) <= 10
    scores = [r["score"] for r in a]
    assert scores == sorted(scores, reverse=True)


def test_graph_beam_plan_broadcasts_frontier_no_cartesian(spark):
    from whatsapp_vectordb_spark.operators.ann import graph_beam_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    edges = spark.createDataFrame(
        [(i, (i + 1) % 50) for i in range(50)], "src long, nbr long"
    )
    plan = graph_beam_topk(
        emb, edges, [1.0, 1.0], k=5, beam_width=3, iters=1
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_graph_beam_bucketed_path_equals_dataframe_path(
    spark, embeddings, tmp_path
):
    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.operators.ann import (
        graph_beam_topk,
        knn_graph_lsh,
        save_knn_graph,
    )

    emb = embeddings.select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    raw = knn_graph_lsh(emb, k=3, n_planes=32, bands=4, dim=64)
    bucketed = save_knn_graph(raw, str(tmp_path / "beam_edges"), n_buckets=8)

    a = [
        (r["vec_id"], r["score"])
        for r in graph_beam_topk(
            emb, raw, qvec, k=10, beam_width=4, iters=2
        ).collect()
    ]
    b = [
        (r["vec_id"], r["score"])
        for r in graph_beam_topk(
            emb, bucketed, qvec, k=10, beam_width=4, iters=2,
            bucket_col="src_bucket", n_buckets=8,
        ).collect()
    ]
    assert a == b and len(a) == 10

    # the hop's bucket IN-list reaches the edge layout as PartitionFilters
    hop = bucketed.where(F.col("src_bucket").isin([0, 3])).where(
        F.col("src").isin([0, 1, 2])
    )
    em = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    p = hop._jdf.queryExecution().explainString(em)
    assert "PartitionFilters" in p and "src_bucket" in p


def test_graph_beam_batched_equals_single_calls(spark, embeddings, tmp_path):
    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.operators.ann import (
        graph_beam_topk,
        graph_beam_topk_batched,
        knn_graph_lsh,
        save_knn_graph,
    )

    emb = embeddings.select("vec_id", "embedding")
    edges = save_knn_graph(
        knn_graph_lsh(emb, k=3, n_planes=32, bands=4, dim=64),
        str(tmp_path / "beam_edges_b"),
        n_buckets=8,
    )
    kw = dict(
        k=5, beam_width=4, iters=2, n_entry=4,
        bucket_col="src_bucket", n_buckets=8,
    )
    batched = graph_beam_topk_batched(emb, edges, [0, 1, 2], **kw).collect()
    got = {
        q: [(r["vec_id"], r["score"]) for r in batched if r["query_id"] == q]
        for q in (0, 1, 2)
    }
    for q in (0, 1, 2):
        qvec = emb.where(F.col("vec_id") == q).head()["embedding"]
        single = [
            (r["vec_id"], r["score"])
            for r in graph_beam_topk(emb, edges, qvec, **kw).collect()
        ]
        assert got[q] == single, f"query {q} diverged"
    # ranks are 1..k per query
    ranks = [r["rank"] for r in batched if r["query_id"] == 0]
    assert ranks == list(range(1, len(ranks) + 1))


def test_graph_beam_filtered_collects_only_allowed_both_paths(
    spark, embeddings, tmp_path
):
    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.operators.ann import (
        graph_beam_topk,
        knn_graph_lsh,
        save_knn_graph,
    )

    emb3 = embeddings
    emb = emb3.select("vec_id", "embedding")
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    lbl = emb3.where(F.col("vec_id") == 7).head()["label"]
    allowed = emb3.where(F.col("label") == lbl).select("vec_id")
    allowed_ids = {r["vec_id"] for r in allowed.collect()}

    raw = knn_graph_lsh(emb, k=5, n_planes=32, bands=8, dim=64)
    bucketed = save_knn_graph(raw, str(tmp_path / "beam_edges_f"), n_buckets=8)
    kw = dict(k=5, beam_width=8, iters=3, n_entry=8)

    a = [
        (r["vec_id"], r["score"])
        for r in graph_beam_topk(emb, raw, qvec, allowed=allowed, **kw).collect()
    ]
    b = [
        (r["vec_id"], r["score"])
        for r in graph_beam_topk(
            emb, bucketed, qvec, allowed=allowed,
            bucket_col="src_bucket", n_buckets=8, **kw
        ).collect()
    ]
    assert a == b
    assert a and all(i in allowed_ids for i, _ in a)
    # the filtered result is the unfiltered visited ranking restricted
    # to allowed ids (collection-time filter, not traversal filter)
    wide = dict(kw, k=10**6)
    unfiltered = [
        (r["vec_id"], r["score"])
        for r in graph_beam_topk(emb, raw, qvec, **wide).collect()
    ]
    expect = [(i, s) for i, s in unfiltered if i in allowed_ids][:5]
    assert a == expect


# --------------------------------------------------------------------------
# Round 17: KnnGraphIndex — incremental graph maintenance.
# --------------------------------------------------------------------------


def test_graph_index_any_split_equals_one_shot(spark, embeddings, tmp_path):
    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.operators.ann import knn_graph_lsh
    from whatsapp_vectordb_spark.operators.graph_index import KnnGraphIndex

    emb = embeddings.select("vec_id", "embedding")
    one = sorted(
        (r["src"], r["nbr"], r["cos_sim"], r["rank"])
        for r in knn_graph_lsh(
            emb, k=5, n_planes=32, bands=4, dim=64
        ).collect()
    )
    # a THREE-way uneven split, folded mid-ingest — still bit-identical
    idx = KnnGraphIndex(
        spark, str(tmp_path / "kgi_split"), k=5, n_planes=32, bands=4, dim=64
    )
    idx.add_batch(emb.where(F.col("vec_id") % 3 == 0))
    idx.add_batch(emb.where(F.col("vec_id") % 3 == 1))
    assert idx.compact() == 2
    idx.add_batch(emb.where(F.col("vec_id") % 3 == 2))
    inc = sorted(
        (r["src"], r["nbr"], r["cos_sim"], r["rank"])
        for r in idx.edges().collect()
    )
    assert inc == one
    rep = idx.verify(deep=True)
    assert rep["ok"], rep["errors"]


def test_graph_index_time_travel_replays_first_batch(
    spark, embeddings, tmp_path
):
    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.operators.ann import knn_graph_lsh
    from whatsapp_vectordb_spark.operators.graph_index import KnnGraphIndex

    emb = embeddings.select("vec_id", "embedding")
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    idx = KnnGraphIndex(
        spark, str(tmp_path / "kgi_tt"), k=5, n_planes=32, bands=4, dim=64
    )
    idx.add_batch(b1)
    seq1 = idx.snapshots()[-1]
    idx.add_batch(emb.where(F.col("vec_id") % 2 == 1))
    # yesterday's graph: the bound replays exactly the batch-1 build
    old = sorted(
        (r["src"], r["nbr"], r["cos_sim"], r["rank"])
        for r in idx.edges(as_of=seq1).collect()
    )
    expect = sorted(
        (r["src"], r["nbr"], r["cos_sim"], r["rank"])
        for r in knn_graph_lsh(
            b1, k=5, n_planes=32, bands=4, dim=64
        ).collect()
    )
    assert old == expect
    # tip differs (the second batch rewired neighborhoods)
    tip = sorted(
        (r["src"], r["nbr"], r["cos_sim"], r["rank"])
        for r in idx.edges().collect()
    )
    assert tip != old


def test_graph_index_is_append_only_and_serves_beam(
    spark, embeddings, tmp_path
):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.operators.ann import graph_beam_topk
    from whatsapp_vectordb_spark.operators.graph_index import KnnGraphIndex

    emb = embeddings.select("vec_id", "embedding")
    idx = KnnGraphIndex(
        spark, str(tmp_path / "kgi_app"), k=3, n_planes=32, bands=4, dim=64
    )
    idx.add_batch(emb.where(F.col("vec_id") < 30))
    with _pytest.raises(ValueError, match="append-only"):
        idx.add_batch(emb.where(F.col("vec_id") < 5))
    # serving handoff: bucketed layout straight from the index
    serving = idx.save_serving(str(tmp_path / "kgi_serve"), n_buckets=8)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    rows = graph_beam_topk(
        emb, serving, qvec, k=5, beam_width=4, iters=2,
        bucket_col="src_bucket", n_buckets=8,
    ).collect()
    assert 0 < len(rows) <= 5
