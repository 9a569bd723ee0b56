"""Formatted physical plans of registry queries.

    python tools/dump_plans.py
    SPARK_GRAFT_SF_DIR=<testdata>/sf0.1 \
        python tools/dump_plans.py --out-dir plans/r19 --suffix before NAME [NAME ...]

With no names, regenerates PLANS.md: the headline queries at sf0.01 with a
caption each. The plan *shape* is the scale argument — this artifact makes
it reviewable without running Spark; tests/test_plans.py asserts the
load-bearing properties.

With names, writes ``<out-dir>/<name>_<suffix>.txt`` per query, for the
before/after plan evidence of an optimization. Each query's builder runs
(side effects included) at $SPARK_GRAFT_SF_DIR (required; sf0.1 is the
bench scale), so composites' pre-plan phases (builds, commits) run for real and
the final plan reads the same artifacts the bench reads. A query that
fails to build records the error in its file and the rest continue.
``knn_topk_1536_expr`` and ``ann_pq1536_adc_topk`` are bench-only names,
built as bench.py builds them.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SHOWN = [
    ("knn_topk_cosine", "exact top-k: scan -> HOF cosine -> TakeOrderedAndProject (no index shuffle)"),
    ("knn_batched", "batched top-k: broadcast query side, window rank per query"),
    ("ann_lsh_topk", "LSH ANN: signature map -> broadcast bucket probe -> pruned exact top-k"),
    ("dedup_exact", "exact dedup: map-side md5, narrow shuffle on the hash"),
    ("dedup_embedding_lsh", "embedding near-dup at scale: band-key equi-join candidates, no cartesian product"),
    ("point_fetch", "point fetch: IN-filter pushed to parquet, embedding column pruned"),
    ("rel_nation_revenue", "3-way join: fact-fact shuffle join + broadcast dims"),
    ("events_asof_purchase", "as-of join: union + single window, no join blow-up"),
    ("events_range_join", "range join: equi-join on (key, time bucket) + exact filter"),
    ("rel_pricing_summary", "filtered aggregate: pushed predicate, partial+final HashAggregate"),
    ("text_search_bm25", "BM25: term-filtered postings, broadcast corpus stats, top-k cut"),
    ("knn_topk_filtered", "metadata-filtered kNN: label predicate pushed to the scan BEFORE scoring"),
    ("knn_topk_per_label", "grouped kNN: map-side scoring, ONE shuffle by label, per-partition rank"),
    ("pack_sequences_blocks", "sequence packing: two-phase distributed prefix sum, no single-partition window"),
    ("text_line_dedup", "line dedup: md5-keyed recurrence count + hash join, text never sorts"),
    ("text_maxsim_topk", "MaxSim: token-vocab broadcast, per-doc max/sum aggregate, top-k cut"),
    ("rel_bloom_pruned_join", "bloom join: one fact pass, projected probe flag + broadcast true-flag"),
    ("text_chunk_overlap", "RAG chunking: map-only tokenize -> explode window starts -> slice; zero shuffles"),
    ("text_phrase_search", "phrase search: postings filtered to query tokens BEFORE the shuffle, broadcast query table, (doc, anchor) aggregate"),
    ("pack_shard_assign", "shard assignment: hash permutation + two-phase prefix sum, per-shard aggregate"),
    ("events_markov_transitions", "Markov transitions: ONE user-keyed window shuffle, |types|^2 aggregate + tiny per-src window"),
    ("multimodal_phash_near_dup", "binary near-dup: banded equi-join candidates (no all-pairs), XOR+popcount verify on carried signatures"),
    ("text_rake_keywords", "RAKE: gaps-and-islands window + doc-keyed joins, every exchange on the doc hash"),
    ("_curate_base", "curate capstone PRE-CHECKPOINT graph: text hashed map-side, skinny (id, lang, hash) shuffles only (the registered query's own explain is truncated at its localCheckpoint — this is the part the checkpoint hides)"),
    ("pipeline_pretraining_shards", "capstone composition: map-side hash/token projection joined skinny, grouped prefix-sum calibration, shard cuts"),
    ("multimodal_real_decode", "real pixel decode: mapInPandas synth -> mapInPandas decode, zero shuffles end to end"),
    ("cluster_kmeans_step", "Lloyd iteration: broadcast seed centroids, map-only integer argmin assign, ONE centroid-keyed update aggregate"),
    ("multimodal_decode_phash_near_dup", "decoder->hash->join in one plan: mapInPandas P5 synth + decode, integer bucket pool, banded Hamming equi-join (no all-pairs)"),
    ("streaming_pipeline_capstone", "streaming capstone SERVING TAIL (the per-batch ingest/dedup/append graph runs inside foreachBatch): broadcast queries, window rank over the stream-built index"),
    ("ann_ivf_portable_build_probe", "portable IVF probe: cell IN-filter prunes the member join, TakeOrderedAndProject top-k (build = iters x map-assign + k*d aggregate, upstream of this plan)"),
    ("ann_ivf_portable_nprobe_sweep", "analytic nprobe sweep: per-level cell-pruned member joins + TakeOrderedAndProject, union of three k-row recall frames"),
    ("dedup_canonical_unscored", "left-join election: skinny id join, one cluster-keyed window, NULLS-LAST score rank"),
    ("dedup_winnow_pairs", "winnow substring pairs: doc-partitioned min-windows -> fp_hash inverted-index equi-join (no cartesian) -> pair aggregate"),
    ("dedup_winnow_cut", "ExactSubstr cut: span islands -> per-doc interval arrays (collect_list) -> HOF positional filter; no position-level join"),
    ("dedup_bloom_decontaminate", "Bloom decontamination: corpus side is scan -> shingle dedup -> ONE Arrow pandas membership UDF -> per-doc aggregate; no join"),
    ("ann_sq8_topk", "SQ8 integer ADC: codes-only scan, zip_with int64 dot, TakeOrderedAndProject k-heap; zero Python"),
    ("text_bpe_fertility", "BPE apply: merge chain as literal replaces inside one transform lambda -- map-only projection, no shuffle"),
    ("ann_ivf_sq8_topk", "IVF-SQ8 composite: PartitionFilters on centroid (probed cells only) -> integer ADC over 4x-compressed codes; float vectors never scanned"),
    ("text_bpe_encode_arrow", "BPE encode at merge-table scale: shared tokenization expression -> ONE ArrowEvalPython segmentation -> map-only hash; no shuffle"),
    ("ann_ivf_sq8_rerank_topk", "composed serving stack: PartitionFilters-pruned codes scan -> int ADC shortlist -> BroadcastHashJoin pages the shortlist floats in; the float table never hash-repartitions"),
    ("ann_ivf_sq8_batched_topk", "batched probe: ONE codes scan (pruned to the union of probed cells) x broadcast (query, cell) map + weight LUTs, query_id-keyed window rank"),
    ("ann_ivfpq_batched_topk", "batched IVF-PQ probe: ONE 8-byte-codes scan (pruned to the probed-cell union) x broadcast probe map + per-query flattened ADC LUTs, query_id-keyed window rank"),
    ("dedup_semdedup_kmeans", "SemDeDup: centroid-keyed WITHIN-CLUSTER pair join (equi-join, no cartesian), broadcast centroid table for cent_sim, EXISTS-style dominated-row semi-join"),
    ("ann_ivf_sq8_index_ingest", "frozen-quantizer ingest roundtrip: base+batch codes layouts UNION with per-root PartitionFilters, integer ADC shortlist, broadcast re-rank of the augmented floats"),
    ("events_zorder_layout", "Z-order layout planning: range-partition on the Morton key, per-partition row_number + closed-form ntile (two-phase scan; the old global-window SinglePartition exchange is gone)"),
    ("ann_ivfpq_index_ingest", "persisted IVF-PQ (memory-bound tier) ingest roundtrip: base+batch 16-byte-code layouts UNION with per-root PartitionFilters, integer LUT-ADC shortlist, broadcast exact re-rank"),
    ("ann_ivf_sq8_index_mutate", "mutation verbs (upsert/delete): seq'd layout union with per-root PartitionFilters, tombstone mask as ONE BroadcastHashJoin LeftAnti pushed below the union, masked co-located floats re-rank"),
    ("ann_ivf_sq8_filtered_topk", "metadata-filtered serving: label predicate pushed to the metadata scan, allowed ids broadcast LeftSemi into the pruned codes scan BEFORE the ADC shortlist"),
    ("ann_ivf_sq8_time_travel", "snapshot serving (load(as_of=N)): the plan unions ONLY roots committed <= the bound (newer commit dirs contribute no scan), per-root PartitionFilters intact, tombstone mask broadcast"),
    ("ann_ivf_sq8_snapshot_retention", "retained pre-fold snapshot (load(as_of=(epoch, seq)) THROUGH a fold): one pruned scan per resolved cell-source group (live base + consulted _retained folds), retained commit roots bounded by seq, the newer epoch's live commit log contributes NO scan, tombstone mask broadcast"),
    ("dedup_minhash_index_time_travel", "dedup verdict-set replay at a retained commit: bounded signatures self-join on (band, band_key) — inverted index, no cartesian — then exact-Jaccard verify joins on the bounded shingle store"),
    ("ann_graph_beam_topk", "graph-ANN beam search (driver-state serving path): the traversal runs EAGERLY — per hop one edge read pruned to the frontier's buckets (PartitionFilters on the partitionBy(src_bucket) layout, plan-pinned in tests/test_graph.py) and one IN-list vector read for new candidates — so the returned frame is the materialized bounded result below, not a lazy plan; per-hop read cost measured flat (0.98x) under a 10x corpus (BASELINE round 17)"),
]


def _formatted(spark, df) -> str:
    em = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(em)


def write_plans_md(spark) -> None:
    from whatsapp_vectordb_spark.harness import QUERIES

    sf_dir = "/root/testdata/sf0.01"
    out = [
        "# PLANS — physical plans of the headline queries (sf0.01)",
        "",
        "Generated by `tools/dump_plans.py`; properties asserted in",
        "`tests/test_plans.py`. Regenerate after plan-affecting changes.",
        "",
    ]
    import whatsapp_vectordb_spark.harness as harness

    for name, caption in SHOWN:
        # names outside the registry (e.g. _curate_base) resolve to plain
        # harness functions with the same (spark, sf_dir) signature
        fn = QUERIES.get(name) or getattr(harness, name)
        plan = _formatted(spark, fn(spark, sf_dir))
        out += [f"## {name}", "", caption, "", "```", plan.rstrip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWN)} plans)")


def _bench_only() -> dict:
    """Builders for the 1536-dim bench rows, which are not registry
    queries — their frames exactly as bench.py builds them."""
    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.harness import _t

    def emb1536(spark, sf_dir):
        emb = _t(spark, sf_dir, "embeddings")
        e = emb.select(
            "vec_id",
            F.flatten(F.array_repeat(F.col("embedding"), 24)).alias("embedding"),
        )
        return e, e.where(F.col("vec_id") == 0).head()["embedding"]

    def knn_topk_1536_expr(spark, sf_dir):
        from whatsapp_vectordb_spark.operators.search import topk

        e, q = emb1536(spark, sf_dir)
        return topk(e, q, k=10)

    def ann_pq1536_adc_topk(spark, sf_dir):
        from whatsapp_vectordb_spark.operators.ann import PqIndex

        e, q = emb1536(spark, sf_dir)
        pq = PqIndex.build(e, m=16, ksub=16, sample_rows=1000, seed=0)
        return pq.adc_topk(pq.encode(e), q, k=10)

    return {
        "knn_topk_1536_expr": knn_topk_1536_expr,
        "ann_pq1536_adc_topk": ann_pq1536_adc_topk,
    }


def write_plan_files(
    spark, names: list[str], out_dir: str, suffix: str, sf_dir: str
) -> None:
    from whatsapp_vectordb_spark.harness import QUERIES

    builders = {**QUERIES, **_bench_only()}
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        t0 = time.time()
        try:
            plan = _formatted(spark, builders[name](spark, sf_dir))
        except Exception as e:  # keep going; record the failure
            plan = f"ERROR building plan: {e!r}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(f"-- {name} ({suffix}) sf_dir={sf_dir}\n")
            f.write(plan.rstrip() + "\n")
        print(f"{name}: {time.time() - t0:.1f}s", flush=True)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="queries to dump (default: PLANS.md)")
    ap.add_argument("--out-dir", help="directory for the per-query plan files")
    ap.add_argument("--suffix", default="before", help="file name suffix")
    args = ap.parse_args(argv)
    if bool(args.names) != bool(args.out_dir):
        ap.error("NAME ... and --out-dir go together")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if args.names and not sf_dir:
        ap.error("set SPARK_GRAFT_SF_DIR to the testdata scale to plan at")
    if args.names and "SPARK_GRAFT_ORACLE_SCRATCH" not in os.environ:
        # composites persist oracle state; keep it out of the shared path
        import atexit
        import shutil
        import tempfile

        from whatsapp_vectordb_spark.session import local_scratch_root

        scratch = tempfile.mkdtemp(prefix="wvs-plans-", dir=local_scratch_root())
        os.environ["SPARK_GRAFT_ORACLE_SCRATCH"] = scratch
        atexit.register(shutil.rmtree, scratch, ignore_errors=True)

    from whatsapp_vectordb_spark.session import get_spark

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    if args.names:
        write_plan_files(spark, args.names, args.out_dir, args.suffix, sf_dir)
    else:
        write_plans_md(spark)
    spark.stop()


if __name__ == "__main__":
    main()
