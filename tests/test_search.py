from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from whatsapp_vectordb_spark.operators.search import (
    topk,
    topk_batched,
    topk_batched_twophase,
)


@pytest.fixture(scope="module")
def qvec(embeddings):
    return embeddings.where(F.col("vec_id") == 0).head()["embedding"]


def test_topk_self_is_first(embeddings, qvec):
    rows = topk(embeddings, qvec, k=5).collect()
    assert len(rows) == 5
    assert rows[0]["vec_id"] == 0
    assert rows[0]["score"] == pytest.approx(1.0)
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_topk_k_equals_n_is_full_ranking(embeddings, qvec):
    n = embeddings.count()
    all_rows = topk(embeddings, qvec, k=n).collect()
    assert len(all_rows) == n
    top3 = topk(embeddings, qvec, k=3).collect()
    assert [r["vec_id"] for r in top3] == [r["vec_id"] for r in all_rows[:3]]


def test_topk_euclidean_orders_ascending(embeddings, qvec):
    rows = topk(embeddings, qvec, k=5, metric="euclidean").collect()
    assert rows[0]["vec_id"] == 0
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores)


def test_topk_scores_each_row_once(embeddings, qvec):
    """The NULL-score filter is never pushed onto the scoring: the
    executed plan over a parquet scan holds the score's HOF once, not
    again in a Filter and in the scan's DataFilters — and the top-k is
    still the root TakeOrderedAndProject."""
    df = topk(embeddings, qvec, k=5, metric="dotproduct", round_to=6)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("aggregate(") == 1, p
    assert p.startswith("TakeOrderedAndProject"), p


@pytest.mark.parametrize("metric", ["dotproduct", "euclidean", "cosine"])
def test_topk_never_returns_null_scores(spark, metric):
    """NULL scores never return: a k past the scorable rows returns only
    those rows, in order, in both ranking directions."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = topk(df, [1.0, 0.5], k=3, metric=metric, round_to=6).collect()
    assert all(r["score"] is not None for r in rows)
    want = {"dotproduct": [0, 2, 3], "euclidean": [0, 2, 3], "cosine": [0, 2]}
    assert [r["vec_id"] for r in rows] == want[metric]


def test_batched_exact_rerank_never_returns_null_scores(spark):
    """The batched re-rank tail's window ranks NULL scores last and drops
    them after the rank: per query, only scorable candidates return."""
    from whatsapp_vectordb_spark.operators.ann import batched_exact_rerank

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    short = spark.createDataFrame(
        [(q, i) for q in (7, 8) for i in (0, 1, 2)], "query_id long, vec_id long"
    )
    for metric in ("dotproduct", "euclidean"):
        rows = batched_exact_rerank(
            vecs, short, [(7, [1.0, 0.0]), (8, [0.0, 1.0])], k=3, metric=metric
        ).collect()
        got = {}
        for r in rows:
            assert r["score"] is not None
            got.setdefault(r["query_id"], []).append(r["vec_id"])
        assert {q: sorted(v) for q, v in got.items()} == {7: [0, 2], 8: [0, 2]}


def test_batched_matches_single(spark, embeddings):
    queries = (
        embeddings.where(F.col("vec_id") < 3)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    batched = topk_batched(embeddings, queries, k=4)
    got = {
        (r["query_id"], r["rank"]): r["vec_id"] for r in batched.collect()
    }
    for qid in range(3):
        qvec = embeddings.where(F.col("vec_id") == qid).head()["embedding"]
        single = topk(embeddings, qvec, k=4).collect()
        for rank, row in enumerate(single, start=1):
            assert got[(qid, rank)] == row["vec_id"]


def test_twophase_matches_window_plan(embeddings):
    qrows = embeddings.where(F.col("vec_id") < 3).select("vec_id", "embedding").collect()
    queries = [(r["vec_id"], r["embedding"]) for r in qrows]
    two = topk_batched_twophase(embeddings, queries, k=4)
    got = {(r["query_id"], r["rank"]): r["vec_id"] for r in two.collect()}
    for qid, qvec in queries:
        single = topk(embeddings, qvec, k=4).collect()
        for rank, row in enumerate(single, start=1):
            assert got[(qid, rank)] == row["vec_id"]


def test_1536_dim_expr_and_numpy_paths_agree(spark, embeddings):
    """The reference's hard dimension constant is 1536 (main.go:27): the
    interpreted-HOF expression path and the Arrow/numpy two-phase path
    must rank identically there, not just at the 64-dim fixture size."""
    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.operators.search import topk, topk_batched_twophase

    emb1536 = embeddings.limit(120).select(
        "vec_id", F.flatten(F.array_repeat(F.col("embedding"), 24)).alias("embedding")
    )
    qrow = emb1536.where(F.col("vec_id") == 3).head()
    assert len(qrow["embedding"]) == 1536
    exact = [
        (r["vec_id"], round(r["score"], 6))
        for r in topk(emb1536, qrow["embedding"], k=10, round_to=6).collect()
    ]
    two = topk_batched_twophase(emb1536, [(3, qrow["embedding"])], k=10).collect()
    got = [(r["vec_id"], round(r["score"], 6)) for r in sorted(two, key=lambda r: r["rank"])]
    assert got == exact
    # tiling preserves cosine: the same ranking as the 64-dim original
    base = [
        (r["vec_id"], round(r["score"], 6))
        for r in topk(
            embeddings.limit(120), qrow["embedding"][:64], k=10, round_to=6
        ).collect()
    ]
    assert [v for v, _ in base] == [v for v, _ in exact]


def test_mmr_rerank_diversifies_near_duplicates(spark):
    """Plant near-duplicates of the best hit: plain top-k returns the
    clones; MMR (λ=0.7) must skip them for diverse alternatives."""
    import numpy as np

    from whatsapp_vectordb_spark.operators.search import mmr_rerank, topk

    rng = np.random.default_rng(5)
    base = rng.standard_normal(16)
    rows = []
    # ids 0-2: the best direction + two near-clones
    for i in range(3):
        v = base + rng.standard_normal(16) * 0.01
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    # ids 3-9: distinct directions, mildly related to the query
    for i in range(3, 10):
        v = 0.3 * base + rng.standard_normal(16)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[0][1]

    plain = [r["vec_id"] for r in topk(emb, q, k=3).collect()]
    assert set(plain) == {0, 1, 2}  # clones crowd out everything

    # λ=0.4: a perfect clone scores 4·1 − 6·1 = −2 once its twin is
    # selected, while a diverse item with rel≈sim≈r scores ≈ −2r > −2 —
    # diversity wins. (At λ≥0.5 keeping a rel≈1.0 clone is the
    # mathematically correct MMR answer on this geometry: rel−sim ≈ 0 for
    # every candidate when the query coincides with the top hit.)
    mmr = [
        r["vec_id"]
        for r in mmr_rerank(emb, q, k=3, shortlist=10, lam_tenths=4).collect()
    ]
    assert mmr[0] == 0  # most relevant still first
    assert len(set(mmr) & {1, 2}) <= 1  # clones mostly displaced
    assert len(set(mmr) - {0, 1, 2}) >= 1  # a diverse pick made it in


def test_mmr_rank_one_is_plain_argmax(spark, embeddings):
    from whatsapp_vectordb_spark.operators.search import mmr_rerank, topk

    q = embeddings.where("vec_id = 0").head()["embedding"]
    mmr = mmr_rerank(embeddings, q, k=5, shortlist=20).collect()
    top1 = topk(embeddings, q, k=1).head()["vec_id"]
    assert mmr[0]["rank"] == 1 and mmr[0]["vec_id"] == top1
    assert [r["rank"] for r in mmr] == [1, 2, 3, 4, 5]


def test_topk_numpy_impl_rank_identity(embeddings):
    """The Arrow/matmul scoring kernel must rank identically to the
    codegen'd expression path at the pinned rounding — for all three
    metrics (the 1536-dim crossover makes numpy the at-scale default in
    the stress tools; this pins the equivalence at fixture scale)."""
    from whatsapp_vectordb_spark.operators.search import topk

    qvec = embeddings.where("vec_id = 3").head()["embedding"]
    for metric in ("cosine", "euclidean", "dotproduct"):
        a = [(r["vec_id"], r["score"]) for r in
             topk(embeddings, qvec, k=20, metric=metric, round_to=6).collect()]
        b = [(r["vec_id"], r["score"]) for r in
             topk(embeddings, qvec, k=20, metric=metric, round_to=6, impl="numpy").collect()]
        assert a == b, f"{metric} rank/score divergence"


def test_topk_numpy_impl_tolerates_null_and_ragged(spark, embeddings):
    """expr scores NULL/wrong-length vectors NULL and drops them from the
    top-k; the numpy kernel must drop the same rows instead of crashing
    on a ragged batch."""
    from pyspark.sql import functions as F
    from whatsapp_vectordb_spark.operators.search import topk

    qvec = embeddings.where("vec_id = 3").head()["embedding"]
    bad = spark.createDataFrame(
        [(900001, None), (900002, [0.5, 0.25])],
        "vec_id bigint, embedding array<float>",
    )
    dirty = embeddings.select("vec_id", "embedding").unionByName(bad)
    a = [(r["vec_id"], r["score"]) for r in topk(dirty, qvec, k=10, round_to=6).collect()]
    b = [(r["vec_id"], r["score"]) for r in
         topk(dirty, qvec, k=10, round_to=6, impl="numpy").collect()]
    assert a == b
    assert all(vid < 900001 for vid, _ in b)


def test_round_half_up_matches_spark_round(spark):
    # ADVICE r6: np.round is half-to-even, F.round is HALF_UP — scores on
    # the round_to grid could rank differently between impls. _round_half_up
    # must agree with F.round on exact grid midpoints, both signs.
    import numpy as np

    from whatsapp_vectordb_spark.operators.search import _round_half_up

    vals = [0.5, -0.5, 1.5, -1.5, 2.5, 0.15625, -0.15625, 0.125, -0.125]
    got = _round_half_up(np.array(vals), 0).tolist()
    assert got[:6] == [1.0, -1.0, 2.0, -2.0, 3.0, 0.0]
    # exactly-representable midpoints at r=3: 0.0625 -> ties away from zero
    mid = _round_half_up(np.array([0.0625, -0.0625]), 3).tolist()
    assert mid == [0.063, -0.063]
    spark_rounded = [
        r["v"]
        for r in spark.createDataFrame([(v,) for v in vals], "x double")
        .selectExpr("round(x, 0) AS v")
        .collect()
    ]
    assert got == spark_rounded
