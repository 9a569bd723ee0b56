"""serve: read-only top-K at 256 dimensions (the reference embeds at 1536).

Setup builds one ``IvfSq8Index`` over clustered unit vectors, saves it
with its co-located float store and loads it back. The client then issues
single ``search(k=10)`` calls with the API defaults and ``search_batched``
calls of ``BATCH_QUERIES`` queries, in the fixed mix ``ROUND``. The
serving path (query planning, ADC scan, exact re-rank) does the work; no
commit log is touched.

Output check: every returned score equals the benchmark's own float64 dot
product of the query with that id's vector, to ``common.SCORE_TOL``.
"""

from __future__ import annotations

import os
import time

import numpy as np

from common import (
    LiveSet, Loop, clustered_unit_vectors, latency_metric, p50,
    per_cpu_s, search, vector_frame,
)

N_VECTORS = 2048
DIM = 256
N_CELLS = 32
K = 10
NPROBE = 2  # search()'s default, used to size the probed cells
BATCH_QUERIES = 16
# one round: the fixed mix of single and batched searches
ROUND = ("search", "search_batched")
# after a single warm-up round the JIT is still compiling: the next search
# costs about 1.5x the CPU time of later ones
WARM_UP_ROUNDS = 2


def run(ctx) -> dict:
    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    tr, spark = ctx.tracer, ctx.spark
    rng = np.random.default_rng(ctx.seed)
    path = os.path.join(ctx.scratch, "serve_index")

    t0 = time.perf_counter()
    centers = rng.standard_normal((N_CELLS, DIM))
    X = clustered_unit_vectors(rng, N_VECTORS, centers, noise=0.6)
    corpus = LiveSet(X, K)
    with tr.span("ann.IvfSq8Index.build"):
        built = IvfSq8Index.build(
            vector_frame(spark, np.arange(N_VECTORS), X), n_centroids=N_CELLS
        )
    with tr.span("ann.IvfSq8Index.save"):
        built.save(path, store_vectors=True)
    with tr.span("ann.IvfSq8Index.load"):
        idx = IvfSq8Index.load(spark, path)
    # the benchmark's own assignment of its vectors to the index's cells,
    # to count the rows a query's probed cells hold
    cell_of = np.argmin(_nearest_cells(X, idx.centroids), axis=1)
    cell_size = np.bincount(cell_of, minlength=N_CELLS)

    def new_queries(n):
        return clustered_unit_vectors(rng, n, centers, noise=0.6).astype(np.float64)

    def single(q):
        return search(tr, idx, q, K)

    def batched(qs):
        with tr.span("ann.IvfSq8Index.search_batched"):
            with tr.span("ann.IvfSq8Index.search_batched.plan"):
                df = idx.search_batched(
                    queries=[(j, q.tolist()) for j, q in enumerate(qs)], k=K
                )
            with tr.span("ann.IvfSq8Index.search_batched.exec"):
                rows = df.collect()
        out: dict[int, list] = {j: [] for j in range(len(qs))}
        for r in rows:
            out[r["query_id"]].append((r["vec_id"], r["score"]))
        return out

    # warm-up: whole rounds, untimed, counted in setup
    for _ in range(WARM_UP_ROUNDS):
        single(new_queries(1)[0])
        batched(new_queries(BATCH_QUERIES))
    setup_s = time.perf_counter() - t0

    recall, examined = [], []

    def quality(q, hits):
        exact = np.argsort(-(X.astype(np.float64) @ q), kind="stable")[:K]
        recall.append(len(set(exact.tolist()) & {i for i, _ in hits}) / K)
        cells = idx.probe_centroid_ids(q, NPROBE)
        examined.append(float(cell_size[cells].sum()) / K)

    loop = Loop(tr, ctx.seconds)
    for _ in loop.rounds_left():
        for kind in ROUND:
            if kind == "search_batched":
                qs = new_queries(BATCH_QUERIES)

                def check(out, qs=qs):
                    problems = []
                    for j, q in enumerate(qs):
                        problems += corpus.check(out[j], q)
                        quality(q, out[j])
                    return problems

                loop.op(kind, lambda qs=qs: batched(qs), check)
            else:
                q = new_queries(1)[0]

                def check(hits, q=q):
                    quality(q, hits)
                    return corpus.check(hits, q)

                loop.op(kind, lambda q=q: single(q), check)

    singles = loop.lat["search"]
    batches = loop.lat["search_batched"]
    answered = len(singles) + BATCH_QUERIES * len(batches)
    return {
        "loop": loop,
        "setup_s": setup_s,
        "main_kind": "search",
        "e2e": {
            "main_op_cpu_s": p50(loop.cpu["search"]),
            "second_op_cpu_s": p50(loop.cpu["search_batched"]),
            "work_per_cpu_s": per_cpu_s(answered, loop),
        },
        "named": {
            "search": latency_metric(singles),
            "search_cpu_s": {"value": p50(loop.cpu["search"]), "unit": "s",
                             "n": len(singles)},
            "search_batched": latency_metric(batches),
            "search_batched_cpu_s": {"value": p50(loop.cpu["search_batched"]),
                                     "unit": "s", "n": len(batches)},
            "search_qps": {"value": len(singles) / sum(singles), "unit": "1/s"},
            "batch_search_qps": {
                "value": BATCH_QUERIES * len(batches) / sum(batches)
                if batches else None,
                "unit": "1/s",
            },
            "queries_per_cpu_s": {"value": per_cpu_s(answered, loop),
                                  "unit": "1/cpu_s"},
            "recall_at_10": {"value": float(np.mean(recall)), "unit": "ratio",
                             "n": len(recall)},
        },
        "layer": {
            "ann.IvfSq8Index.search.recall_at_10": float(np.mean(recall)),
            "ann.IvfSq8Index.search.rows_examined_per_result": p50(examined),
        },
        "checks": {},
    }


def _nearest_cells(X, centroids):
    """Squared euclidean distance to each centroid, up to a per-row
    constant (enough for the argmin)."""
    return -2.0 * X.astype(np.float64) @ centroids.T + (centroids ** 2).sum(1)
