"""Batched IVF-SQ8 serving at 1M×1536: the one-scan-for-N-queries case.

The batched tier's gate rows prove bit-parity with per-query probes; this
records WHY the batched path exists at scale — a serving batch of N
queries pays ONE scan of the union of probed cells (plus one float pass
for the re-rank) instead of N sequential serving round-trips, so
per-query cost falls roughly as the cell-overlap factor.

Protocol (same synthesized corpus and build as tools/stress_ivf_sq8.py):

  1. synthesize N×dim (isotropic + planted), build the IvfSq8Index-style
     layout: balanced 64-cell quantizer on a 50k sample, SQ8 codes AND
     floats persisted partitionBy(centroid);
  2. Q queries (mix of planted and noise ids), nprobe=2;
  3. time (a) the per-query loop: Q × ivf_sq8_topk (numpy ADC);
          (b) ONE ivf_sq8_batched_topk call (same Q, same probe map);
          (c) ONE ivf_sq8_batched_rerank_topk call with the CO-LOCATED
              float side pruned to the union of probed cells
              (BASELINE.md r13: flat floats cost a full scan);
     assert (a) ≡ (b) per query (bit-equal int64 ADC scores).

    python tools/stress_ivf_sq8_batched.py [n] [dim] [n_queries]
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

def _scratch_root():
    from whatsapp_vectordb_spark.session import local_scratch_root

    return local_scratch_root()


N_CENTROIDS = 64
NPROBE = 2


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n = int(args[0]) if args else 1_000_000
    dim = int(args[1]) if len(args) > 1 else 1536
    n_queries = int(args[2]) if len(args) > 2 else 32

    import numpy as np
    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.operators.ann import (
        IvfIndex,
        ivf_sq8_batched_rerank_topk,
        ivf_sq8_batched_topk,
        ivf_sq8_topk,
        sq8_encode,
        sq8_train,
    )
    from whatsapp_vectordb_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    spark = get_spark(app_name="ivf-sq8-batched-stress")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="wvs_ivf_sq8_b_", dir=_scratch_root())
    import atexit

    atexit.register(shutil.rmtree, root, ignore_errors=True)
    out: dict = {"metric": "ivf_sq8_batched_stress", "n": n, "dim": dim,
                 "n_queries": n_queries, "nprobe": NPROBE}

    base = np.random.default_rng(7).standard_normal(dim)

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rng = np.random.default_rng(1_000_003 + int(ids[0]))
            m = rng.standard_normal((len(ids), dim)).astype(np.float32)
            planted = ids % 1000 == 0
            if planted.any():
                m[planted] = (
                    base[None, :]
                    + 0.25 * rng.standard_normal((int(planted.sum()), dim))
                ).astype(np.float32)
            yield pd.DataFrame({"vec_id": ids, "embedding": list(m)})

    corpus_path = os.path.join(root, "corpus")
    t0 = time.perf_counter()
    (
        spark.range(n)
        .repartition(64)
        .mapInPandas(synth, schema="vec_id long, embedding array<float>")
        .write.mode("overwrite")
        .parquet(corpus_path)
    )
    out["synth_write_s"] = round(time.perf_counter() - t0, 1)
    index = spark.read.parquet(corpus_path)

    t0 = time.perf_counter()
    mins, deltas = sq8_train(index)
    sample = index.sample(fraction=min(1.0, 50_000 / n), seed=1)
    proto = IvfIndex.build_portable(sample, n_centroids=N_CENTROIDS, iters=5)
    assigned = proto.assign(index).select("vec_id", "centroid")
    codes_path = os.path.join(root, "codes")
    sq8_encode(index, mins, deltas).join(assigned, "vec_id").write.partitionBy(
        "centroid"
    ).mode("overwrite").parquet(codes_path)
    floats_path = os.path.join(root, "floats_pc")
    index.join(assigned, "vec_id").write.partitionBy("centroid").mode(
        "overwrite"
    ).parquet(floats_path)
    out["build_s"] = round(time.perf_counter() - t0, 1)
    stored = spark.read.parquet(codes_path)
    floats_pc = spark.read.parquet(floats_path)
    print(json.dumps({"partial": {k: out[k] for k in ("synth_write_s", "build_s")}}), flush=True)

    # queries: alternate planted (k*1000) and noise ids
    qids = []
    for i in range(n_queries):
        qids.append((i // 2 + 1) * 1000 if i % 2 == 0 else 7 * i + 3)
    qrows = index.where(F.col("vec_id").isin(qids)).collect()
    queries = [(int(r["vec_id"]), r["embedding"]) for r in qrows]
    cents = proto.centroids

    def probe_cells(qv):
        d = ((cents - np.asarray(qv, dtype=np.float64)) ** 2).sum(axis=1)
        return np.argsort(d, kind="stable")[:NPROBE].tolist()

    probe_map = {qid: probe_cells(qv) for qid, qv in queries}
    union_cells = sorted({c for cs in probe_map.values() for c in cs})
    out["union_cells"] = len(union_cells)
    out["cell_rescans_saved"] = round(
        sum(len(cs) for cs in probe_map.values()) / max(1, len(union_cells)), 2
    )

    # (a) per-query loop — the N-round-trips baseline (warm one first)
    ivf_sq8_topk(stored, probe_map[queries[0][0]], queries[0][1], deltas,
                 k=10, impl="numpy").collect()
    t0 = time.perf_counter()
    solo = {}
    for qid, qv in queries:
        solo[qid] = [
            (r["vec_id"], r["score_int"])
            for r in ivf_sq8_topk(
                stored, probe_map[qid], qv, deltas, k=10, impl="numpy"
            ).collect()
        ]
    out["per_query_loop_s"] = round(time.perf_counter() - t0, 2)
    print(json.dumps({"loop": out["per_query_loop_s"]}), flush=True)

    # (b) ONE batched call per kernel — same queries, same probe map
    # (warm, then time). The numpy kernel is the apples-to-apples
    # comparison against the numpy per-query loop; expr is the
    # oracle-parity form.
    for impl in ("expr", "numpy"):
        ivf_sq8_batched_topk(
            stored, queries, probe_map, deltas, k=10, impl=impl
        ).count()
        t0 = time.perf_counter()
        brows = ivf_sq8_batched_topk(
            stored, queries, probe_map, deltas, k=10, impl=impl
        ).collect()
        out[f"batched_{impl}_s"] = round(time.perf_counter() - t0, 2)
        by_q: dict = {}
        for r in brows:
            by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["score_int"]))
        for qid in by_q:
            by_q[qid].sort(key=lambda t: (-t[1], t[0]))
        mismatch = [qid for qid, _ in queries if by_q.get(qid) != solo[qid]]
        assert not mismatch, f"batched[{impl}] != per-query for {mismatch}"
        out[f"batched_{impl}_speedup"] = round(
            out["per_query_loop_s"] / out[f"batched_{impl}_s"], 2
        )
        print(json.dumps({f"batched_{impl}": out[f"batched_{impl}_s"],
                          "speedup": out[f"batched_{impl}_speedup"]}), flush=True)
    out["batched_equals_loop"] = True

    # (c) batched + exact re-rank against the CO-LOCATED pruned floats
    # (numpy shortlist kernel — the at-scale serving composition)
    vec_side = floats_pc.where(F.col("centroid").isin(union_cells)).select(
        "vec_id", "embedding"
    )
    ivf_sq8_batched_rerank_topk(
        stored, vec_side, queries, probe_map, deltas, k=10, shortlist=100,
        impl="numpy",
    ).count()
    t0 = time.perf_counter()
    nrr = ivf_sq8_batched_rerank_topk(
        stored, vec_side, queries, probe_map, deltas, k=10, shortlist=100,
        impl="numpy",
    ).count()
    out["batched_rerank_colocated_s"] = round(time.perf_counter() - t0, 2)
    out["batched_rerank_rows"] = int(nrr)
    print(json.dumps(out), flush=True)
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
