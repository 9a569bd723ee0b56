"""IVF-SQ8 at the 1M×1536 stress shape: the composite tier's scale case.

The registry row (`ann_ivf_sq8_topk`) proves correctness end-to-end at
gate scale; this records WHY the composite exists at 100 TB — the two
levers stack:

  * SQ8 alone: the scan reads 4×-compressed codes instead of float
    vectors, but still reads ALL of them;
  * IVF-SQ8: partition pruning cuts the scanned codes to ~nprobe/k of
    the table, on TOP of the 4× compression.

Protocol (mirrors tools/stress_ann_curve.py — same synthesized corpus
shape, same warm-pass-then-time discipline, same per-query recall
honesty split between planted and isotropic-noise queries):

  1. synthesize N×dim (isotropic + planted near-neighbors), write parquet;
  2. exact float top-10 ground truth per query (numpy kernel);
  3. SQ8: train with the Arrow path (the posexplode form would be N·dim
     exploded rows), encode, persist codes partitionBy(centroid) using a
     Lloyd quantizer fit on a 50k sample (build_portable — the balanced
     builder; cell_stats recorded);
  4. time the SQ8 FULL scan (numpy integer ADC over every code) — the
     no-pruning baseline;
  5. time IVF-SQ8 probes at nprobe ∈ {1, 2, 4, 8}: warm pass, then
     median latency + recall@10 vs the exact float top-10.

    python tools/stress_ivf_sq8.py [n] [dim]
"""
from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

def _scratch_root():
    from whatsapp_vectordb_spark.session import local_scratch_root

    return local_scratch_root()


NPROBES = [1, 2, 4, 8]
N_CENTROIDS = 64


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n = int(args[0]) if args else 1_000_000
    dim = int(args[1]) if len(args) > 1 else 1536

    import numpy as np
    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.operators.ann import (
        IvfIndex,
        ivf_sq8_topk,
        sq8_encode,
        sq8_topk,
        sq8_train,
    )
    from whatsapp_vectordb_spark.operators.search import topk
    from whatsapp_vectordb_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    spark = get_spark(app_name="ivf-sq8-stress")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="wvs_ivf_sq8_", dir=_scratch_root())
    import atexit

    atexit.register(shutil.rmtree, root, ignore_errors=True)
    out: dict = {"metric": "ivf_sq8_stress", "n": n, "dim": dim}

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

    qrows = index.where(F.col("vec_id").isin([0, 1, 2, 1000])).collect()
    queries = {int(r["vec_id"]): r["embedding"] for r in qrows}

    exact: dict[int, list[int]] = {}
    lat = []
    for qid, qv in queries.items():
        t0 = time.perf_counter()
        # ground truth in the SAME metric family the SQ8 ADC ranks by
        # (dot) — a cosine truth would charge the index for metric
        # mismatch, not quantization/pruning loss
        exact[qid] = [
            r["vec_id"]
            for r in topk(
                index, qv, k=10, metric="dotproduct", round_to=6, impl="numpy"
            ).collect()
        ]
        lat.append(time.perf_counter() - t0)
    out["exact_float_dot_topk_median_s"] = round(statistics.median(lat), 3)
    print(json.dumps({"partial": {k: out[k] for k in ("synth_write_s", "exact_float_dot_topk_median_s")}}), flush=True)

    # --- SQ8 train (Arrow path) + encode + partitioned persist
    t0 = time.perf_counter()
    mins, deltas = sq8_train(index)
    out["sq8_train_s"] = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    sample = index.sample(fraction=min(1.0, 50_000 / n), seed=1)
    proto = IvfIndex.build_portable(sample, n_centroids=N_CENTROIDS, iters=5)
    out["quantizer_fit_s"] = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    codes = sq8_encode(index, mins, deltas).join(
        proto.assign(index).select("vec_id", "centroid"), "vec_id"
    )
    codes_path = os.path.join(root, "codes")
    codes.write.partitionBy("centroid").mode("overwrite").parquet(codes_path)
    out["encode_assign_save_s"] = round(time.perf_counter() - t0, 1)
    stored = spark.read.parquet(codes_path)
    cells = stored.groupBy("centroid").count().collect()
    total = sum(r["count"] for r in cells)
    out["cell_balance_max_share"] = round(
        max(r["count"] for r in cells) / total, 4
    )
    print(json.dumps({"partial": {k: out[k] for k in ("sq8_train_s", "quantizer_fit_s", "encode_assign_save_s", "cell_balance_max_share")}}), flush=True)

    # --- SQ8 FULL scan baseline (no pruning): warm, then per-query times
    for qv in queries.values():
        sq8_topk(stored, qv, deltas, k=10, impl="numpy").collect()
    lats, recalls = [], []
    for qid, qv in queries.items():
        t0 = time.perf_counter()
        hits = [
            r["vec_id"]
            for r in sq8_topk(stored, qv, deltas, k=10, impl="numpy").collect()
        ]
        lats.append(time.perf_counter() - t0)
        recalls.append(len(set(hits) & set(exact[qid])) / 10)
    out["sq8_fullscan_median_s"] = round(statistics.median(lats), 3)
    out["sq8_fullscan_recall_at_10"] = round(sum(recalls) / len(recalls), 3)
    print(json.dumps({"sq8_fullscan": {k: out[k] for k in ("sq8_fullscan_median_s", "sq8_fullscan_recall_at_10")}}), flush=True)

    # --- IVF-SQ8 probes: nearest cells by float centroid distance (the
    # probe decision is driver-side over k centroid rows)
    cents = proto.centroids
    curve = []
    for nprobe in NPROBES:
        def probe_cells(qv):
            d = ((cents - np.asarray(qv, dtype=np.float64)) ** 2).sum(axis=1)
            return np.argsort(d, kind="stable")[:nprobe].tolist()

        for qv in queries.values():  # warm pass (cold file cache otherwise)
            ivf_sq8_topk(stored, probe_cells(qv), qv, deltas, k=10, impl="numpy").collect()
        lats, recalls, rq = [], [], {}
        for qid, qv in queries.items():
            t0 = time.perf_counter()
            hits = [
                r["vec_id"]
                for r in ivf_sq8_topk(
                    stored, probe_cells(qv), qv, deltas, k=10, impl="numpy"
                ).collect()
            ]
            lats.append(time.perf_counter() - t0)
            rec = len(set(hits) & set(exact[qid])) / 10
            recalls.append(rec)
            rq[str(qid)] = round(rec, 2)
        curve.append(
            {
                "nprobe": nprobe,
                "probe_median_s": round(statistics.median(lats), 3),
                "recall_at_10": round(sum(recalls) / len(recalls), 3),
                "recall_per_query": rq,
            }
        )
        print(json.dumps({"ivf_sq8": curve[-1]}), flush=True)
    out["ivf_sq8_curve"] = curve

    # --- r13: the RE-RANK lever on top (the composed serving stack,
    # ivf_sq8_rerank_topk), in BOTH float-storage layouts:
    #
    #   flat      — the floats are a plain parquet table: the broadcast
    #               semi-join avoids a SHUFFLE but NOT the scan, so the
    #               re-rank pays a full float-column read per query (the
    #               first r13 run measured ~9 s — the honest cost of
    #               "100 point reads" against storage with no point
    #               access path);
    #   colocated — the floats are ALSO persisted partitionBy(centroid)
    #               (FAISS keeps raw vectors inside the IVF lists for
    #               exactly this refine step): the shortlist is a subset
    #               of the probed cells by construction, so pruning the
    #               float side to the same cells is lossless and the
    #               re-rank reads nprobe/k of the float bytes.
    #
    # Exact final scores either way — recall vs truth is the only loss,
    # and it can only match or beat the pure-ADC top-10 at the same
    # nprobe (the shortlist is a superset of the ADC top-10).
    from whatsapp_vectordb_spark.operators.ann import ivf_sq8_rerank_topk

    t0 = time.perf_counter()
    floats_pc_path = os.path.join(root, "floats_pc")
    stored.select("vec_id", "centroid").join(index, "vec_id").write.partitionBy(
        "centroid"
    ).mode("overwrite").parquet(floats_pc_path)
    out["floats_colocate_save_s"] = round(time.perf_counter() - t0, 1)
    floats_pc = spark.read.parquet(floats_pc_path)

    for variant, rr_key in (("flat", "ivf_sq8_rerank_curve"),
                            ("colocated", "ivf_sq8_rerank_colocated_curve")):
        rr_curve = []
        for nprobe in NPROBES[:3]:
            def probe_cells(qv):
                d = ((cents - np.asarray(qv, dtype=np.float64)) ** 2).sum(axis=1)
                return np.argsort(d, kind="stable")[:nprobe].tolist()

            def rerank(qv):
                cells_q = probe_cells(qv)
                vec_side = (
                    index
                    if variant == "flat"
                    else floats_pc.where(F.col("centroid").isin(cells_q)).select(
                        "vec_id", "embedding"
                    )
                )
                return ivf_sq8_rerank_topk(
                    stored, vec_side, cells_q, qv, deltas,
                    k=10, shortlist=100, impl="numpy",
                )

            for qv in queries.values():  # warm pass
                rerank(qv).collect()
            lats, recalls, rq = [], [], {}
            for qid, qv in queries.items():
                t0 = time.perf_counter()
                hits = [r["vec_id"] for r in rerank(qv).collect()]
                lats.append(time.perf_counter() - t0)
                rec = len(set(hits) & set(exact[qid])) / 10
                recalls.append(rec)
                rq[str(qid)] = round(rec, 2)
            rr_curve.append(
                {
                    "nprobe": nprobe,
                    "rerank_median_s": round(statistics.median(lats), 3),
                    "recall_at_10": round(sum(recalls) / len(recalls), 3),
                    "recall_per_query": rq,
                }
            )
            print(json.dumps({f"ivf_sq8_rerank_{variant}": rr_curve[-1]}), flush=True)
        out[rr_key] = rr_curve

    print(json.dumps(out), flush=True)
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
