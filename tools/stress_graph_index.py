"""Incremental-graph stress: cost of folding a small batch in vs a
full one-shot rebuild.

The claim (operators/graph_index.py): ``add_batch`` joins only the NEW
batch's band keys against the stored band-key table, so ingesting an
increment costs roughly its share of the pair work — while the one-shot
``knn_graph_lsh`` pays the full corpus self-join every run. This
harness prices both on the same corpus and checks the graphs match
(edge count + order-insensitive checksum over (src, nbr, rank)).

Geometry note: band width must grow with n (portable_lsh_join
docstring) — at 200k random vectors, 64 planes / 4 bands keeps per-band
buckets ~n/65k.

    python tools/stress_graph_index.py [n_base] [n_increment] [dim]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_inc = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000
    dim = int(sys.argv[3]) if len(sys.argv) > 3 else 64

    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.operators.ann import knn_graph_lsh
    from whatsapp_vectordb_spark.operators.graph_index import KnnGraphIndex
    from whatsapp_vectordb_spark.session import get_spark, local_scratch_root

    spark = get_spark(app_name="graph-index-stress")
    spark.sparkContext.setLogLevel("ERROR")

    n = n_base + n_inc
    vec = F.array(*[F.randn(seed=500 + j) for j in range(dim)])
    corpus = (
        spark.range(n)
        .repartition(32)
        .select(
            F.col("id").alias("vec_id"), vec.cast("array<float>").alias("embedding")
        )
        .cache()
    )
    corpus.count()
    geometry = dict(k=5, n_planes=64, bands=4, dim=dim)

    path = tempfile.mkdtemp(prefix="wvs_kgi_stress_", dir=local_scratch_root())
    shutil.rmtree(path, ignore_errors=True)
    out: dict = {"n_base": n_base, "n_increment": n_inc, **geometry}
    try:
        idx = KnnGraphIndex(spark, path, **geometry)
        t0 = time.time()
        idx.add_batch(corpus.where(F.col("vec_id") < n_base))
        out["ingest_base_s"] = round(time.time() - t0, 1)
        t0 = time.time()
        idx.add_batch(corpus.where(F.col("vec_id") >= n_base))
        out["ingest_increment_s"] = round(time.time() - t0, 1)

        def fingerprint(edges):
            r = edges.select(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.expr("bit_xor(xxhash64(src, nbr, rank))"), F.lit(0)
                ).alias("x"),
            ).collect()[0]
            return int(r["n"]), int(r["x"])

        t0 = time.time()
        fp_inc = fingerprint(idx.edges())
        out["edges_derive_s"] = round(time.time() - t0, 1)

        t0 = time.time()
        one_shot = knn_graph_lsh(corpus, **geometry)
        fp_one = fingerprint(one_shot)
        out["one_shot_rebuild_s"] = round(time.time() - t0, 1)

        out["n_edges"] = fp_inc[0]
        out["graphs_identical"] = fp_inc == fp_one
        out["increment_over_rebuild"] = round(
            out["ingest_increment_s"] / max(out["one_shot_rebuild_s"], 1e-6), 3
        )
        print(json.dumps(out))
    finally:
        shutil.rmtree(path, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
