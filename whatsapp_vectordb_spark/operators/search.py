"""k-NN similarity search — the flagship query (SURVEY.md §2.5, Q1).

Reference semantics: embed query text → rank stored vectors by metric →
return top-k ``(id, score[, values, metadata])`` (reference main.go:89-184;
the ranking itself executes inside Pinecone). Here the ranking is local to
the cluster in three tiers:

1. ``topk``: one query vector, exact brute force. Scan → per-row score
   (codegen'd HOF expression, narrow) → global top-k via
   ``ORDER BY … LIMIT k`` which Spark executes as TakeOrderedAndProject:
   each task keeps a k-row heap, only ``num_partitions × k`` rows reach the
   driver-side merge. No shuffle of the index, ever. At 100 TB this is the
   optimal exact plan: embarrassingly parallel map + tiny reduce.

2. ``topk_batched``: Q query vectors at once. The query side is broadcast
   (a few KB–MB) and cross-joined against the index — still a narrow map
   over index partitions — then per-query top-k. Two physical options:
   a window rank (shuffles Q×N scored rows — exact SQL parity for the
   oracle) and a two-phase variant (partition-local top-k via
   ``mapInPandas``/numpy, then global rank over ``partitions × Q × k``
   rows) whose shuffle is independent of index size N. Use the latter at
   scale; both return identical rows.

3. ANN: LSH (``ann`` module) when N×Q brute force is too much even
   two-phased.

Ties break deterministically by id ascending (SURVEY.md §7.3 hard part 2).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window

from whatsapp_vectordb_spark.session import local_df
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from whatsapp_vectordb_spark.functions.vector import (
    array_lit,
    metric_ascending,
    similarity_score,
)


def _query_vec_lit(query_vec) -> Column:
    return array_lit(query_vec, "double")


def _order(score: Column, id_col: Column, metric: str) -> list[Column]:
    s = score.asc() if metric_ascending(metric) else score.desc()
    return [s, id_col.asc()]


def topk(
    index_df: DataFrame,
    query_vec,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    payload_cols: tuple[str, ...] = (),
    round_to: int | None = None,
    impl: str = "expr",
) -> DataFrame:
    """Exact top-k for one query vector.

    Returns ``(id_col, score, *payload_cols)`` — payload hydration is part
    of the same select, collapsing the reference's per-match fetch loops
    (reference main.go:141-180, Q4) into zero extra passes.

    ``round_to`` rounds the score *before* ranking so ordering (and the
    LIMIT cut) is reproducible across engines whose float folds differ in
    the last ulp (SURVEY.md §7.3 hard part 4).

    ``impl="numpy"`` scores each partition in one Arrow/numpy batch
    instead of the per-row codegen'd HOF expression — the same
    TakeOrderedAndProject plan, but the inner product is a matmul. At the
    reference's dim=1536 the expression path evaluates ~3·1536 lambda
    folds per row and the numpy path is ~15× faster (measured 28.8 s →
    1.9 s over 200k vectors, tools/stress_ann.py); at dim 64 the expr
    path wins (no Python worker hop). Scores use the same formula shape
    as the expr fold (direct (v−q)² for euclidean — never the
    cancellation-prone norm expansion), differing only in float64
    summation order; rounded ties could in principle differ — keep
    ``expr`` where bit-parity with the SQL oracle is asserted. NULL and
    wrong-length vectors drop out, as they do (via NULL scores) expr-side.

    Expr-side, the score comes out of a one-element ``explode`` rather
    than a projection, so the HOF runs once per row: Catalyst pushes a
    filter on a projected alias back below the projection (and below any
    join feeding ``index_df``, down to the scan), evaluating the score
    twice, but never pushes one on a generator's output. The NULL-score
    filter stays under the sort, so the top-k is still the root
    ``TakeOrderedAndProject`` (a filter above the limit would finish it
    with an extra single-partition shuffle).
    """
    if impl == "numpy":
        if payload_cols:
            raise ValueError("impl='numpy' supports id+score only")
        scored = _score_numpy(index_df, query_vec, metric, id_col, vec_col, round_to)
        return scored.orderBy(*_order(F.col("score"), F.col(id_col), metric)).limit(k)
    score = similarity_score(_query_vec_lit(query_vec), F.col(vec_col), metric)
    if round_to is not None:
        score = F.round(score, round_to)
    out = index_df.select(
        F.col(id_col),
        F.explode(F.array(score)).alias("score"),
        *[F.col(c) for c in payload_cols],
    ).where(F.col("score").isNotNull())
    return out.orderBy(*_order(F.col("score"), F.col(id_col), metric)).limit(k)


def _round_half_up(s: np.ndarray, r: int) -> np.ndarray:
    """Sign-aware ROUND_HALF_UP to ``r`` decimals — the rounding mode of
    Spark's ``F.round`` (java.math HALF_UP: ties away from zero), NOT
    numpy's default half-to-even. Keeps the numpy kernel's ranking
    consistent with the expr path on scores landing exactly on the
    round_to grid. Parity on half-way values remains empirical for
    doubles whose binary representation sits off the decimal grid;
    everywhere bit-parity is asserted the expr path stays the default."""
    scale = 10.0**r
    return np.sign(s) * np.floor(np.abs(s) * scale + 0.5) / scale


def _score_numpy(
    index_df: DataFrame,
    query_vec,
    metric: str,
    id_col: str,
    vec_col: str,
    round_to: int | None,
) -> DataFrame:
    """(id, score) via one numpy matmul per Arrow batch — the at-scale
    scoring kernel behind ``topk(impl='numpy')``."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q))
    out_schema = StructType(
        [index_df.schema[id_col], StructField("score", DoubleType(), False)]
    )

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            # expr-path parity: NULL or wrong-length vectors score NULL
            # there (zip_with pads with nulls) and fall out of the top-k;
            # here they must be dropped BEFORE asarray, which would throw
            # on a ragged column
            ok = pdf[vec_col].map(lambda a: a is not None and len(a) == len(q))
            pdf = pdf[ok]
            if pdf.empty:
                continue
            v = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            dots = v @ q
            if metric == "dotproduct":
                s = dots
                keep = np.ones(len(s), dtype=bool)
            elif metric == "euclidean":
                # direct (v - q)² — NOT the ||v||²-2v·q+||q||² expansion,
                # whose cancellation at tiny distances can round a true 0
                # distance up past the round_to grid and diverge from the
                # expr fold's ranking
                diff = v - q[None, :]
                s = np.sqrt((diff * diff).sum(axis=1))
                keep = np.ones(len(s), dtype=bool)
            else:  # cosine — zero-norm rows score NULL in the expr path: drop
                norms = np.linalg.norm(v, axis=1)
                keep = (norms > 0.0) & (qn > 0.0)
                s = np.zeros(len(dots))
                s[keep] = dots[keep] / (norms[keep] * qn)
            if round_to is not None:
                s = _round_half_up(s, round_to)
            yield pd.DataFrame({id_col: pdf[id_col][keep], "score": s[keep]})

    return index_df.select(id_col, vec_col).mapInPandas(score_batches, schema=out_schema)


def topk_batched(
    index_df: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_to: int | None = None,
) -> DataFrame:
    """Per-query exact top-k for a batch of queries (window-rank plan).

    The query table is broadcast; the scored cross product is ranked per
    query with a deterministic tiebreak. Exact SQL parity with
    ``QUALIFY row_number() <= k``.
    """
    q = F.broadcast(queries_df.select(query_id_col, query_vec_col))
    score = similarity_score(F.col(query_vec_col), F.col(vec_col), metric)
    if round_to is not None:
        score = F.round(score, round_to)
    scored = index_df.crossJoin(q).select(
        F.col(query_id_col),
        F.col(id_col),
        score.alias("score"),
    )
    scored = scored.where(F.col("score").isNotNull())
    w = Window.partitionBy(query_id_col).orderBy(*_order(F.col("score"), F.col(id_col), metric))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )


def topk_batched_twophase(
    index_df: DataFrame,
    queries: list[tuple],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale-path batched cosine top-k: partition-local numpy top-k, then a
    global rank over only ``num_partitions × Q × k`` rows.

    ``queries`` is a list of ``(query_id, vector)``. The query matrix rides
    into every task via the closure (equivalently a broadcast variable) —
    the index is scanned once, never shuffled; the shuffle input is
    independent of index size. This is the plan to run on 100 TB.
    """
    qids = np.array([q[0] for q in queries], dtype=np.int64)
    qmat = np.array([q[1] for q in queries], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1, keepdims=True)
    qmat = qmat / np.where(qnorm == 0.0, 1.0, qnorm)

    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField(id_col, index_df.schema[id_col].dataType),
            StructField("score", DoubleType()),
        ]
    )

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            vecs = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(vecs, axis=1, keepdims=True)
            ok = norms[:, 0] > 0
            if not ok.any():
                continue
            vecs = vecs[ok] / norms[ok]
            ids = pdf[id_col].to_numpy()[ok]
            sims = vecs @ qmat.T  # (n, Q)
            n = sims.shape[0]
            kk = min(k, n)
            rows = []
            for qi in range(sims.shape[1]):
                # keep every row tied with the local rank-k score: ties at
                # the boundary must all survive to the global rank so the
                # (-score, id) winner can't be dropped partition-locally
                col = sims[:, qi]
                thr = np.partition(col, n - kk)[n - kk]
                sel = np.flatnonzero(col >= thr)
                rows.append(
                    pd.DataFrame(
                        {
                            "query_id": qids[qi],
                            id_col: ids[sel],
                            "score": col[sel],
                        }
                    )
                )
            yield pd.concat(rows, ignore_index=True)

    candidates = index_df.select(id_col, vec_col).mapInPandas(local_topk, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def search_text(
    index_df: DataFrame,
    query_text: str,
    k: int = 10,
    metric: str = "cosine",
    dim: int = 64,
    seed: int = 42,
    id_col: str = "id",
    vec_col: str = "embedding",
    payload_cols: tuple[str, ...] = ("text",),
    round_to: int | None = None,
) -> DataFrame:
    """The reference's interactive query path (main.go:186-266): embed the
    query string driver-side (one string — no job needed), then exact
    top-k. Returns (id, score, payload…)."""
    from whatsapp_vectordb_spark.embedder import embed_text

    qvec = embed_text(query_text, dim=dim, seed=seed)
    if qvec is None:
        raise ValueError("query text produced no tokens; cannot embed")
    return topk(
        index_df,
        qvec,
        k=k,
        metric=metric,
        id_col=id_col,
        vec_col=vec_col,
        payload_cols=payload_cols,
        round_to=round_to,
    )


def mmr_rerank(
    index: DataFrame,
    query_vec,
    k: int = 5,
    shortlist: int = 20,
    lam_tenths: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Maximal Marginal Relevance diversity re-rank (Carbonell &
    Goldstein '98): greedily pick k of a `shortlist`-sized exact-top
    candidate set maximizing ``λ·relevance − (1−λ)·max-sim-to-selected``
    — the standard redundancy filter for retrieval results (top-k cosine
    alone returns near-duplicates of one good hit).

    Exactness contract: relevance and pairwise similarities are quantized
    to integer micro-units (round(cos·10⁶)) and λ to tenths, so the greedy
    argmax (ties → lowest id) is integer arithmetic — engine-exact and
    replayable by a step-unrolled SQL oracle. Selection itself runs
    driver-side over the collected shortlist (k·shortlist comparisons on
    ≤`shortlist` rows — sequential by nature, bounded by construction);
    the heavy work (scan + top-`shortlist` + pairwise sims) is all
    cluster-side. Returns ``(rank, id, mmr_score10)`` rows.
    """
    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.functions.vector import cosine_similarity

    # the driver collects a shortlist×shortlist similarity matrix; cap it
    # so a careless shortlist=10_000 (100M cells) can't OOM the driver
    if shortlist > 1024:
        raise ValueError(
            f"shortlist={shortlist} exceeds 1024: the MMR greedy step "
            "collects a shortlist^2 similarity matrix to the driver. "
            "Re-rank a smaller exact-top shortlist, or raise k-NN k instead."
        )
    spark = index.sparkSession
    qcol = array_lit(query_vec, "double")
    rel6 = F.round(cosine_similarity(F.col(vec_col), qcol) * 1_000_000).cast("long")
    cand = (
        index.select(F.col(id_col), F.col(vec_col), rel6.alias("rel"))
        .where(F.col("rel").isNotNull())
        .orderBy(F.col("rel").desc(), F.col(id_col).asc())
        .limit(shortlist)
    )
    a = cand.select(F.col(id_col).alias("ia"), F.col(vec_col).alias("va"))
    b = cand.select(F.col(id_col).alias("ib"), F.col(vec_col).alias("vb"))
    sim6 = F.round(cosine_similarity(F.col("va"), F.col("vb")) * 1_000_000).cast("long")
    sims = {
        (r["ia"], r["ib"]): r["s"]
        for r in a.crossJoin(F.broadcast(b)).select("ia", "ib", sim6.alias("s")).collect()
    }
    rels = {r[id_col]: r["rel"] for r in cand.select(id_col, "rel").collect()}

    selected: list = []
    out = []
    remaining = set(rels)
    for rank in range(1, min(k, len(rels)) + 1):
        best = None
        for i in sorted(remaining):  # sorted → lowest-id tie-break
            max_s = max((sims[(i, j)] for j in selected), default=0)
            score = lam_tenths * rels[i] - (10 - lam_tenths) * max_s
            if best is None or score > best[1]:
                best = (i, score)
        selected.append(best[0])
        remaining.discard(best[0])
        out.append((rank, best[0], int(best[1])))
    return local_df(spark, out, f"rank bigint, {id_col} long, mmr_score10 bigint")


def knn_label_propagation(
    unlabeled: DataFrame,
    labeled: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote weak labeling: predict each unlabeled item's
    label as the majority among its ``k`` nearest LABELED neighbors by
    cosine — the standard semi-supervised bootstrap for growing a labeled
    training set from a small seed.

    Determinism contract: similarity is quantized to integer micro-units,
    neighbor rank ties break on labeled id, vote ties break on (count
    desc, label asc) — every step oracle-replayable. Output:
    ``(vec_id, pred_label, votes)``.

    Scale shape: the labeled SEED set is broadcast (weak labeling starts
    from a small curated seed by definition — for seed sets past broadcast
    size, swap the candidate step for the bucketed ANN join); the
    unlabeled side stays fully distributed, then two aggregations keyed by
    the unlabeled id (rank, then vote). No global sort, no driver loop.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.functions.vector import cosine_similarity

    lab = labeled.select(
        F.col(id_col).alias("_lid"),
        F.col(vec_col).alias("_lvec"),
        F.col(label_col).alias("_llabel"),
    )
    scored = unlabeled.select(
        F.col(id_col), F.col(vec_col).alias("_uvec")
    ).crossJoin(F.broadcast(lab)).select(
        F.col(id_col),
        "_lid",
        "_llabel",
        F.round(cosine_similarity(F.col("_uvec"), F.col("_lvec")) * 1_000_000)
        .cast("long")
        .alias("_cos6"),
    )
    wk = Window.partitionBy(id_col).orderBy(
        F.col("_cos6").desc(), F.col("_lid").asc()
    )
    top = scored.withColumn("_rk", F.row_number().over(wk)).where(F.col("_rk") <= k)
    votes = top.groupBy(id_col, "_llabel").agg(F.count("*").alias("votes"))
    wv = Window.partitionBy(id_col).orderBy(
        F.col("votes").desc(), F.col("_llabel").asc()
    )
    return (
        votes.withColumn("_vr", F.row_number().over(wv))
        .where(F.col("_vr") == 1)
        .select(F.col(id_col), F.col("_llabel").alias("pred_label"), "votes")
    )
