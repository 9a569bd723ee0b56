"""Round-11 scale protocol for the winnow + BPE tiers at 1M documents.

Corpus: sf0.1 documents (5k) replicated R× (default 200 → 1M docs) with
a per-replica unique token PREPENDED, so replicas are near-identical in
content but the measured stages are the SCAN-side costs (winnow's
per-doc window pass; BPE's corpus-wide word-frequency build) — pair
output is never materialized here (stress_dedup covers the
duplicate-heavy pair path at 100k).

Stages (all timed, one JSON line each as they land):
  1. winnow_fingerprints over the full corpus (count only);
  2. bpe_learn, 8 merges (merge table collected);
  2b. (r12) bpe_learn_local, 1000 merges in ONE applyInPandas stage,
      twin-equality asserted on the first 8 against stage 2;
  2c. (r12) bpe_encode of the full corpus with the 1k-merge vocab —
      the Arrow apply path; corpus-wide fertility aggregated;
  3. WinnowDedupIndex probe flatness: seed the persisted fingerprint
     table with stage 1's output, then three successive 5k-doc
     add_batch calls — two near-dup batches (each emits ~1M verified
     pairs) and one fresh batch; per-batch time must track batch+output
     size, never the ~20M-row stored side.

    python tools/stress_winnow_bpe.py [replicas]
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



def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 200

    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.operators.dedup import winnow_fingerprints
    from whatsapp_vectordb_spark.operators.dedup_index import WinnowDedupIndex
    from whatsapp_vectordb_spark.operators.textops import (
        bpe_encode,
        bpe_learn,
        bpe_learn_local,
    )
    from whatsapp_vectordb_spark.session import get_spark

    spark = get_spark(app_name="winnow-bpe-stress")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
        "doc_id", "text"
    )
    r = spark.range(replicas).select(F.col("id").alias("rep"))
    corpus = (
        docs.crossJoin(F.broadcast(r))
        .select(
            (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
            F.concat(
                F.lit("uniq"), F.col("rep").cast("string"), F.lit("x"),
                F.col("doc_id").cast("string"), F.lit(" "), F.col("text"),
            ).alias("text"),
        )
        .repartition(64)
        .cache()
    )
    out: dict = {"n_docs": corpus.count(), "replicas": replicas}

    t0 = time.perf_counter()
    fps = winnow_fingerprints(corpus, k=5, w=4).select("doc_id", "fp_pos", "fp_hash")
    out["winnow_fp_rows"] = fps.count()
    out["winnow_fp_s"] = round(time.perf_counter() - t0, 2)
    print(json.dumps(out), flush=True)

    t0 = time.perf_counter()
    merges = bpe_learn(corpus, n_merges=8).collect()
    out["bpe_learn_s"] = round(time.perf_counter() - t0, 2)
    out["bpe_merges"] = [(m["lhs"], m["rhs"], m["pair_count"]) for m in merges]
    print(json.dumps(out), flush=True)

    # r12: the at-scale trainer — 1000 merges in ONE applyInPandas stage
    # over the distributed word count (vs 1000 driver jobs for the
    # per-round loop). Twin-equality asserted on the first 8 merges
    # against the distributed run above.
    t0 = time.perf_counter()
    local = bpe_learn_local(corpus, n_merges=1000).collect()
    out["bpe_local_1k_s"] = round(time.perf_counter() - t0, 2)
    out["bpe_local_merges"] = len(local)
    got8 = [(m["lhs"], m["rhs"], m["pair_count"]) for m in local[:8]]
    assert got8 == out["bpe_merges"], f"twin mismatch: {got8}"
    out["bpe_twin_equal_first8"] = True
    print(json.dumps(out), flush=True)

    # r12: ENCODE the full corpus with the 1k-merge vocab — the Arrow
    # apply path (rank-dict priority segmentation, cost independent of
    # merge-table depth; the F.replace expression chain would be a
    # 1000-deep expression tree). One aggregate over the result keeps
    # the measured work the segmentation, not a million-row collect.
    merges_1k = [(m["lhs"], m["rhs"]) for m in local]
    t0 = time.perf_counter()
    enc = bpe_encode(corpus, merges_1k)
    agg = enc.agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens").alias("tok"),
        F.sum("n_pieces").alias("pieces"),
    ).collect()[0]
    out["bpe_encode_1k_s"] = round(time.perf_counter() - t0, 2)
    out["bpe_encode_docs"] = int(agg["docs"])
    out["bpe_encode_fertility"] = round(agg["pieces"] / agg["tok"], 4)
    print(json.dumps(out), flush=True)

    # seeded-index probe flatness: backfill the store directly (the
    # measured path is per-batch probing, not the one-off backfill).
    # Probe batch ids start far above replicas*1e7 so they never collide
    # with stored ids (a collision silently anti-joins the batch away —
    # which is re-ingest safety, but not what this measures).
    root = tempfile.mkdtemp(prefix="wvs_winnow_idx_stress_", dir=_scratch_root())
    try:
        idx = WinnowDedupIndex(spark, root, k=5, w=4, min_shared=2)
        t0 = time.perf_counter()
        fps.write.mode("overwrite").parquet(
            os.path.join(idx._batches_path, "seed", "fingerprints")
        )
        out["seed_s"] = round(time.perf_counter() - t0, 2)
        base_id = (replicas + 100) * 10_000_000
        batches = [
            docs.select(
                (F.col("doc_id") + base_id).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" probe tail zero")).alias("text"),
            ),
            docs.select(
                (F.col("doc_id") + base_id + 100_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" probe tail one")).alias("text"),
            ),
            docs.select(
                (F.col("doc_id") + base_id + 200_000).alias("doc_id"),
                F.concat(
                    F.lit("fresh"), F.col("doc_id").cast("string"),
                    F.lit(" novel words entirely"),
                ).alias("text"),
            ),
        ]
        for i, b in enumerate(batches):
            t0 = time.perf_counter()
            out[f"batch{i}_pairs"] = idx.add_batch(b).count()
            out[f"batch{i}_s"] = round(time.perf_counter() - t0, 2)
        print(json.dumps(out), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
