"""ANN stress check at beyond-fixture scale: N synthetic vectors (randn,
JVM-generated — no Python in the build path), exact vs ANN latency + recall.

Not part of the oracle gate (vectors are layout-seeded, not reproducible
across engines); this is the scale-evidence harness for BASELINE.md:

    python tools/stress_ann.py [n_vectors] [dim]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 64

    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.operators.ann import IvfIndex, portable_lsh_topk
    from whatsapp_vectordb_spark.operators.search import topk
    from whatsapp_vectordb_spark.session import get_spark

    spark = get_spark(app_name="ann-stress")
    spark.sparkContext.setLogLevel("ERROR")

    import numpy as np

    # background: isotropic noise; planted: every 1000th row is a small
    # perturbation of one base vector — the near-neighbor structure real
    # embedding corpora have and ANN exists to exploit.
    base = np.random.default_rng(7).standard_normal(dim)
    noise_vec = F.array(*[F.randn(seed=1000 + j) for j in range(dim)])
    planted_vec = F.array(
        *[F.lit(float(base[j])) + 0.25 * F.randn(seed=2000 + j) for j in range(dim)]
    )
    vec = F.when(F.col("id") % 1000 == 0, planted_vec).otherwise(noise_vec)
    index = (
        spark.range(n)
        .repartition(32)
        .select(F.col("id").alias("vec_id"), vec.cast("array<float>").alias("embedding"))
        .cache()
    )
    index.count()
    qvec = index.where(F.col("vec_id") == 0).head()["embedding"]

    out: dict = {"n": n, "dim": dim}

    # the engine's best exact path per shape: expr (codegen HOF) at low
    # dims, Arrow/numpy matmul kernel at high dims (~15× at 1536 —
    # measured 28.8 s vs 1.9 s over these 200k vectors); both recorded
    # when they differ materially
    impl = "numpy" if dim >= 256 else "expr"
    t0 = time.perf_counter()
    exact = [r["vec_id"] for r in topk(index, qvec, k=10, round_to=6, impl=impl).collect()]
    out["exact_topk_s"] = round(time.perf_counter() - t0, 3)
    out["exact_impl"] = impl
    if impl == "numpy":
        t0 = time.perf_counter()
        expr_ids = [r["vec_id"] for r in topk(index, qvec, k=10, round_to=6).collect()]
        out["exact_topk_expr_s"] = round(time.perf_counter() - t0, 3)
        assert expr_ids == exact, "expr/numpy rank divergence"

    t0 = time.perf_counter()
    approx = [
        r["vec_id"]
        for r in portable_lsh_topk(
            index, query_id=0, k=10, n_planes=32, bands=4, round_to=6
        ).collect()
    ]
    out["lsh_topk_s"] = round(time.perf_counter() - t0, 3)
    out["lsh_recall_at_10"] = len(set(exact) & set(approx)) / 10

    t0 = time.perf_counter()
    # build_balanced: the mega-cell tripwire (VERDICT r11) — a degenerate
    # MLlib layout here would make every probe below a hidden full scan
    ivf = IvfIndex.build_balanced(index, n_centroids=32, max_iter=5)
    ivf.assigned.cache().count()
    out["ivf_build_s"] = round(time.perf_counter() - t0, 3)
    out["ivf_max_cell_share"] = round(ivf.cell_stats()["max_share"], 4)
    t0 = time.perf_counter()
    ivf_hits = [r["vec_id"] for r in ivf.probe(qvec, k=10, nprobe=8, impl=impl).collect()]
    out["ivf_probe_s"] = round(time.perf_counter() - t0, 3)
    out["ivf_recall_at_10"] = len(set(exact) & set(ivf_hits)) / 10

    from whatsapp_vectordb_spark.operators.ann import PqIndex, ivfpq_topk

    t0 = time.perf_counter()
    pq = PqIndex.build(index, m=8, ksub=16, sample_rows=4096, seed=0)
    enc = pq.encode(index).cache()
    enc.count()
    out["pq_build_encode_s"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    pq_hits = [r["vec_id"] for r in pq.adc_topk(enc, qvec, k=10).collect()]
    out["pq_adc_topk_s"] = round(time.perf_counter() - t0, 3)
    out["pq_recall_at_10"] = len(set(exact) & set(pq_hits)) / 10

    from whatsapp_vectordb_spark.operators.ann import pq_topk_rerank

    t0 = time.perf_counter()
    rr_hits = [
        r["vec_id"]
        for r in pq_topk_rerank(pq, enc, index, qvec, k=10, shortlist=100).collect()
    ]
    out["pq_rerank_topk_s"] = round(time.perf_counter() - t0, 3)
    out["pq_rerank_recall_at_10"] = len(set(exact) & set(rr_hits)) / 10

    cells = enc.join(ivf.assigned.select("vec_id", "centroid"), "vec_id").cache()
    cells.count()
    t0 = time.perf_counter()
    ivfpq_hits = [
        r["vec_id"] for r in ivfpq_topk(ivf, pq, cells, qvec, k=10, nprobe=8).collect()
    ]
    out["ivfpq_probe_s"] = round(time.perf_counter() - t0, 3)
    out["ivfpq_recall_at_10"] = len(set(exact) & set(ivfpq_hits)) / 10

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
