"""Physical-plan audits: the shape that must survive a 100×/1000× scale-up.

These assert on ``explain("formatted")`` output — pushdown, pruning,
broadcast side, top-k physical operator, no accidental Python in hot paths.
A correctness-green operator with the wrong plan fails here.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from whatsapp_vectordb_spark.operators.search import topk, topk_batched


def plan(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    em = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(em)


def cell_pruned_scans(p: str) -> tuple[list[str], list[str]]:
    """A formatted plan's cell-pruned layout scans, by how they prune:
    roots laid out ``partitionBy(centroid)`` (the base, the fold) carry
    the probe as ``PartitionFilters``; flat centroid-sorted delta roots
    carry it as ``PushedFilters: [In(centroid, ...)]`` (row-group
    min/max skipping)."""
    lines = p.splitlines()
    part = [ln for ln in lines if "PartitionFilters" in ln and "centroid" in ln]
    pushed = [ln for ln in lines if "PushedFilters" in ln and "In(centroid," in ln]
    return part, pushed


def test_point_fetch_pushes_filter_to_parquet(embeddings):
    p = plan(embeddings.where(F.col("vec_id").isin(5, 10, 15)).select("vec_id", "label"))
    assert "PushedFilters: [In(vec_id" in p
    # column pruning: the wide embedding array must NOT be read
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "embedding" not in read_schema


def test_topk_uses_take_ordered_not_full_sort(embeddings):
    qvec = [0.1] * 64
    p = plan(topk(embeddings, qvec, k=10))
    assert "TakeOrderedAndProject" in p
    # a global Exchange+Sort would shuffle the whole index
    assert "rangepartitioning" not in p.lower()


def test_topk_scan_prunes_unused_columns(embeddings):
    p = plan(topk(embeddings, [0.1] * 64, k=10))
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "label" not in read_schema  # only id + vector needed


def test_batched_topk_broadcasts_query_side(embeddings):
    queries = embeddings.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    p = plan(topk_batched(embeddings, queries, k=3))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    # the big index side must not move through a shuffle before scoring
    scored_part = p.split("Window")[0]
    assert "Exchange hashpartitioning" not in scored_part


def test_dimension_joins_are_broadcast(spark, sf_dir):
    from whatsapp_vectordb_spark.harness import rel_nation_revenue, rel_top_customers

    p = plan(rel_top_customers(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    p2 = plan(rel_nation_revenue(spark, sf_dir))
    assert p2.count("BroadcastHashJoin") >= 2  # customer and nation dims


def test_text_quality_is_jvm_side_map_only(documents):
    from whatsapp_vectordb_spark.operators.textops import quality_scores

    p = plan(quality_scores(documents))
    # map-only: no shuffle at all, vectorized parquet scan. (Higher-order
    # function lambdas are JVM-interpreted, not codegen'd — still no Python.)
    assert "Exchange" not in p
    assert "Batched: true" in p
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in p  # no Python in the hot path
    # tokenization is materialized once in its own projection, so the
    # non-cheap split() appears exactly once in the plan
    assert p.count("split(lower(text") == 1


def test_exact_dedup_shuffles_hashes_not_documents(documents):
    from whatsapp_vectordb_spark.operators.dedup import exact_duplicates

    p = plan(exact_duplicates(documents))
    # the md5 must be computed below the exchange (map-side), so the text
    # column never crosses the shuffle
    assert "hashpartitioning(dup_hash" in p
    exchange = p[p.find(") Exchange") :]
    input_line = [ln for ln in exchange.splitlines() if ln.startswith("Input")][0]
    assert "text" not in input_line and "dup_hash" in input_line


def test_aggregates_are_partial_then_final(spark, sf_dir):
    from whatsapp_vectordb_spark.harness import rel_pricing_summary

    p = plan(rel_pricing_summary(spark, sf_dir))
    assert p.count("HashAggregate") >= 2  # partial + final
    assert "PushedFilters" in p  # shipdate predicate reaches the scan


def test_lsh_candidate_join_is_on_bucket_keys(embeddings):
    from whatsapp_vectordb_spark.operators.ann import portable_lsh_topk

    p = plan(portable_lsh_topk(embeddings, query_id=0, k=10))
    # query buckets broadcast; candidate pruning happens before cosine
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path):
    """Co-located join: both sides bucketed by the join key -> no Exchange.
    This is the 100 TB join strategy for repeated fact-fact joins (bucket
    once at write, join forever shuffle-free)."""
    import os

    from pyspark.sql import functions as F

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (
        orders.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable("b_orders")
    )
    (
        li.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("b_lineitem")
    )
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path (fixture tables are broadcast-small;
        # at fact-fact scale broadcast is off the table and THIS plan runs)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        p = plan(joined)
        assert "SortMergeJoin" in p
        assert "Exchange hashpartitioning" not in p  # buckets pre-co-locate
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_embedding_lsh_join_never_goes_cartesian(embeddings):
    """The scale-safe embedding near-dup join must be a (band, chunk)
    equi-join — the plan an all-pairs cross join would die on at 100×."""
    from whatsapp_vectordb_spark.operators.ann import portable_lsh_join

    p = plan(portable_lsh_join(embeddings, threshold=0.95, dim=64))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_jaccard_builds_shingle_table_once(documents, monkeypatch):
    """Regression for the double shingle build (VERDICT r1 item 6): the
    candidate and verify phases must share ONE hashed-shingle table."""
    from whatsapp_vectordb_spark.operators import dedup

    calls = []
    orig = dedup._hashed_shingles

    def counting(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(dedup, "_hashed_shingles", counting)
    dedup.jaccard_near_duplicates(documents.limit(50), max_shingle_freq=40)
    assert len(calls) == 1


def test_minhash_verify_joins_on_int64_keys(documents):
    """The Jaccard verify joins must shuffle 8-byte hashed shingle ids,
    never shingle strings (VERDICT r1 perf item)."""
    from whatsapp_vectordb_spark.operators.dedup import minhash_near_duplicates

    p = plan(minhash_near_duplicates(documents.limit(50)))
    # the verify join condition is on the int64 _h columns
    assert "_h" in p
    # no join keyed on a raw shingle string survives in the plan
    assert "hashpartitioning(shingle" not in p


def test_bm25_broadcasts_stats_and_dfreq(documents):
    """BM25's per-term document frequencies and one-row corpus stats must
    ride in as broadcasts; the postings side never shuffles through a
    cartesian (VERDICT r02 plan-audit ask)."""
    from whatsapp_vectordb_spark.operators.textops import bm25_search

    p = plan(bm25_search(documents, ["data", "processing", "scale"]))
    assert p.count("BroadcastExchange") >= 2  # dfreq join + stats crossJoin
    assert "CartesianProduct" not in p
    # the postings explode is filtered to the query's IN-list (so shuffled
    # postings are O(docs with a query term), not the full inverted index)
    filter_lines = [ln for ln in p.splitlines() if "Filter" in ln or "Condition" in ln]
    assert any("data" in ln and "scale" in ln for ln in filter_lines), filter_lines


def test_decontamination_broadcasts_benchmark_side(documents):
    """The benchmark shingle set (tiny) must broadcast so corpus shingles
    never shuffle for the hit join (VERDICT r02 plan-audit ask)."""
    from whatsapp_vectordb_spark.operators.dedup import benchmark_contamination

    bench = documents.limit(5).select("doc_id", "text")
    p = plan(benchmark_contamination(documents.limit(200), bench))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_session_window_stream_plan_has_watermark(spark, sf_dir):
    """The native streaming sessionizer must carry an event-time watermark
    (state-store eviction depends on it) and a SessionWindow node."""
    import os

    from whatsapp_vectordb_spark.streaming.ops import session_window_agg

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = session_window_agg(stream)
    lp = agg._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in lp
    assert "session_window" in lp.lower()


def test_duplicate_spans_no_cartesian_and_int64_keys(documents):
    """Span-dedup's cross-doc occurrence test must be a key join on the
    60-bit window ids, never a pairwise product."""
    from whatsapp_vectordb_spark.operators.dedup import duplicate_spans

    p = plan(duplicate_spans(documents.limit(100), span_n=10))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "_h" in p


def test_fuzzy_join_is_equi_join_on_variant_ids(documents):
    """The deletion-neighborhood join must be an equi-join on hashed
    variants — the naive plan would be a levenshtein theta-join."""
    from whatsapp_vectordb_spark.operators.textops import fuzzy_join

    left = documents.limit(50).select(F.col("doc_id").alias("lid"), F.col("text").alias("ls"))
    right = documents.limit(80).select(F.col("doc_id").alias("rid"), F.col("text").alias("rs"))
    p = plan(fuzzy_join(left, right, "ls", "rs", "lid", "rid", 1))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_tfidf_cosine_pairs_broadcasts_dfreq_no_cartesian(documents):
    from whatsapp_vectordb_spark.operators.textops import tfidf_cosine_pairs

    p = plan(tfidf_cosine_pairs(documents.limit(150)))
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p  # per-term IDF table rides broadcast


def test_quantized_cell_assignment_broadcasts_centroids(spark, embeddings):
    """Streaming IVF maintenance's per-batch assignment must broadcast the
    k-row centroid table — a shuffle here would serialize every batch."""
    from whatsapp_vectordb_spark.operators.ann import assign_cells_quantized

    cents = spark.createDataFrame(
        [(i, [float(i)] * 64) for i in range(8)], "centroid bigint, cvec array<double>"
    )
    p = plan(assign_cells_quantized(embeddings.limit(100), cents))
    assert "BroadcastExchange" in p
    assert "SortMergeJoin" not in p


def test_pagerank_iteration_is_key_join_no_cartesian(spark):
    from whatsapp_vectordb_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 7) % 50) for i in range(200)], "src long, dst long"
    )
    p = plan(pagerank(edges, iters=2))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_prefix_sum_has_no_single_partition_exchange(spark):
    """The packing prefix sum must be the two-phase distributed scan — a
    global Window.orderBy would funnel every row through ONE task
    (Exchange SinglePartition), the classic scale cliff. The
    localCheckpoint inside ordered_prefix_sum truncates lineage, so the
    range-partitioning exchange itself is hidden behind a Scan
    ExistingRDD — the observable invariants are (a) no SinglePartition
    exchange anywhere and (b) the window spec partitions by the
    per-partition id, never globally."""
    from whatsapp_vectordb_spark.operators.curate import ordered_prefix_sum

    df = spark.range(0, 1000).select(
        F.col("id"), (F.pmod(F.col("id"), F.lit(7)) + 1).alias("v")
    )
    p = plan(ordered_prefix_sum(df, "id", "v", n_parts=8))
    assert "SinglePartition" not in p
    assert "windowspecdefinition(_pid" in p  # partitioned scan, not global


def test_line_dedup_shuffles_hashes_not_lines(documents):
    """The recurring-line count groups on the 32-char md5, and the join
    back to lines is an equi-join on that hash — no sort of full text, no
    cartesian."""
    from whatsapp_vectordb_spark.operators.curate import duplicate_line_removal

    lines = documents.select(
        F.col("doc_id"),
        F.lit(0).cast("long").alias("line_no"),
        F.col("text").alias("line"),
    )
    p = plan(duplicate_line_removal(lines, min_docs=2))
    assert "CartesianProduct" not in p
    assert "_lh" in p  # hash key drives the join


def test_dataset_diff_joins_on_hash_not_content(documents):
    from whatsapp_vectordb_spark.operators.curate import dataset_diff

    old = documents.select("doc_id", "text")
    new = documents.select("doc_id", "text")
    p = plan(dataset_diff(old, new, "doc_id", ["text"]))
    assert "CartesianProduct" not in p
    # id-keyed shuffle join, and the shuffled projections carry the md5
    # fingerprints (_h_old/_h_new), never the raw text
    assert "hashpartitioning(doc_id" in p
    assert "_h_old" in p and "_h_new" in p


def test_hard_negative_queries_are_broadcast(spark, embeddings):
    """The query side must broadcast (BroadcastNestedLoopJoin — the
    intended batched-scoring shape, same as topk_batched); the index side
    is scanned once with no shuffle before ranking."""
    from whatsapp_vectordb_spark.operators.curate import hard_negative_mine

    queries = embeddings.where(F.col("vec_id") < 3)
    p = plan(hard_negative_mine(embeddings, queries, k=4))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_filtered_knn_pushes_predicate(embeddings):
    """Metadata-filtered kNN must filter BEFORE scoring: the label
    predicate reaches the parquet scan (PushedFilters) and the heap only
    ranks matching rows."""
    p = plan(topk(embeddings.where(F.col("label") == 3), [0.1] * 64, k=10))
    assert "PushedFilters: [IsNotNull(label), EqualTo(label,3)" in p
    assert "TakeOrderedAndProject" in p


def test_phrase_search_filters_postings_before_shuffle(documents):
    """The posting explode must be filtered to the query's tokens BEFORE
    any exchange — the difference between shuffling a posting list and
    shuffling the corpus."""
    from whatsapp_vectordb_spark.operators.textops import phrase_search

    p = plan(phrase_search(documents, "sort merge"))
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p  # tiny (token, offset) query table
    # the IN-filter sits below the generate output, before any aggregate
    assert "IN (merge,sort)" in p or "IN (sort,merge)" in p


def test_binary_near_dup_is_banded_equi_join(embeddings):
    """Candidates must come from the band equi-join, never an all-pairs
    product; the verify reads signatures carried through the join."""
    from whatsapp_vectordb_spark.operators.dedup import binary_near_dup_pairs

    p = plan(binary_near_dup_pairs(embeddings.limit(200), id_col="vec_id"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "band" in p and "bval" in p


def test_rake_windows_partition_by_doc(documents):
    """Every RAKE window/aggregate keys by document — no global window."""
    from whatsapp_vectordb_spark.operators.textops import rake_keywords

    # filter, not limit: GlobalLimit itself plans a SinglePartition exchange
    p = plan(rake_keywords(documents.where(F.col("doc_id") < 100)))
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p


def test_batched_ivf_probe_broadcasts_probe_map(spark, embeddings, tmp_path):
    """The (query, centroid) probe map must broadcast and the index side
    must be pruned by an IN-filter on the probed cells — never a shuffle
    of the index keyed by centroid."""
    from whatsapp_vectordb_spark.operators.ann import IvfIndex

    emb = embeddings.select("vec_id", "embedding")
    idx = IvfIndex.build(emb, n_centroids=4)
    qs = [(r["vec_id"], r["embedding"]) for r in emb.where(F.col("vec_id") < 2).collect()]
    p = plan(idx.probe_batched(qs, k=3, nprobe=2))
    assert "BroadcastExchange" in p
    assert "centroid IN" in p or "isin" in p.lower() or "IN (" in p
    assert "SortMergeJoin" not in p


def test_curate_capstone_shuffles_skinny_rows(spark, sf_dir):
    """Round-6 rework: the capstone hashes text MAP-SIDE — no Exchange may
    carry the raw text column. (Before: 99s at 250k docs with text
    shuffled through the join AND the dedup window; after: 33s.)"""
    from whatsapp_vectordb_spark.harness import _curate_base

    p = plan(_curate_base(spark, sf_dir))
    for block in p.split("\n\n"):
        if block.lstrip().startswith("(") and "Exchange" in block.splitlines()[0]:
            assert "text#" not in block, f"raw text in a shuffle:\n{block}"


def test_shards_capstone_shuffles_skinny_rows(spark, sf_dir):
    from whatsapp_vectordb_spark.harness import pipeline_pretraining_shards

    p = plan(pipeline_pretraining_shards(spark, sf_dir))
    for block in p.split("\n\n"):
        if block.lstrip().startswith("(") and "Exchange" in block.splitlines()[0]:
            assert "text#" not in block, f"raw text in a shuffle:\n{block}"


def test_real_decode_is_shuffle_free(spark, sf_dir):
    """Synth → decode is two chained mapInPandas stages over the scan —
    zero exchanges; binary payloads never cross a shuffle boundary."""
    from whatsapp_vectordb_spark.harness import multimodal_real_decode

    p = plan(multimodal_real_decode(spark, sf_dir))
    assert "Exchange" not in p


def test_decode_phash_near_dup_is_banded_no_cartesian(spark, sf_dir):
    """Decoder → hash → join composition: candidates must come from the
    banded equi-join (SortMergeJoin/BroadcastHashJoin on band keys), never
    a cartesian product of signatures."""
    from whatsapp_vectordb_spark.harness import multimodal_decode_phash_near_dup

    p = plan(multimodal_decode_phash_near_dup(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_portable_ivf_probe_filters_cells_before_topk(spark, sf_dir):
    """The portable-build probe must prune to the probed cells (an IN
    filter on centroid feeding the member join) and finish with the
    TakeOrderedAndProject top-k, not a global sort."""
    from whatsapp_vectordb_spark.harness import ann_ivf_portable_build_probe

    p = plan(ann_ivf_portable_build_probe(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    # the cell filter must be a literal IN over the assignment's cell
    # column — named `centroid` when the centroid frame rides an RDD
    # scan, or its pre-rename `_cid` since r17's Arrow local frames let
    # the optimizer collapse the rename projection (same filter, same
    # placement above the window; only the display name changes)
    import re

    assert re.search(r"(centroid|_cid)#\w+L? IN \(", p)


def test_streaming_capstone_serving_broadcasts_queries(spark, sf_dir):
    """The capstone's serving tail: the (tiny) query table broadcasts, the
    stream-built index is the streamed side, and ranking is the window
    top-k — no shuffle of the index beyond the per-query rank exchange."""
    from whatsapp_vectordb_spark.harness import streaming_pipeline_capstone

    p = plan(streaming_pipeline_capstone(spark, sf_dir))
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_kmeans_mapside_agg_no_explode_no_join(spark, embeddings):
    """The map-side Lloyd update's per-iteration aggregate must be ONE
    Arrow pass + one hash aggregate on its k·d partials — no Generate
    (posexplode) and no Join anywhere, which is the entire point vs the
    portable N·d join+groupBy path."""
    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.operators.ann import _kmeans_mapside_partials

    df = embeddings.select("vec_id", "embedding").limit(100)
    quant = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1_000_000).cast("long")
    )
    qvecs = df.select(quant.alias("_qv"))
    cents = [(i, [0] * 64) for i in range(4)]
    agg = (
        _kmeans_mapside_partials(qvecs, cents)
        .groupBy("centroid", "pos")
        .agg(F.sum("n").alias("n"), F.sum("qsum").alias("qsum"))
    )
    p = plan(agg)
    assert "Generate" not in p and "Join" not in p
    assert "MapInPandas" in p
    # partial+final hash aggregate around the single exchange
    assert p.count("HashAggregate") >= 2


def test_winnow_pairs_and_spans_never_go_cartesian(documents):
    """The winnow candidate join must be an equi-join on fp_hash (an
    inverted index) for the pair, span, and cut forms alike; the window
    passes must partition by document, never globally."""
    from whatsapp_vectordb_spark.operators.dedup import (
        winnow_cut_duplicates,
        winnow_duplicate_pairs,
        winnow_shared_spans,
    )

    for df in (
        # release_cache=False: the eager-checkpoint default would collapse
        # the plan to an ExistingRDD scan — audit the lazy plan instead
        winnow_duplicate_pairs(
            documents.limit(100), k=5, w=4, max_df=50, release_cache=False
        ),
        winnow_shared_spans(documents.limit(100), k=5, w=4),
        winnow_cut_duplicates(documents.limit(100), k=5, w=4),
    ):
        p = plan(df)
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        assert "fp_hash" in p
        # no global (empty-partition-spec) window: every WindowExec line
        # that mentions a specification partitions by something
        for ln in p.splitlines():
            if "windowspecdefinition()" in ln.replace(" ", ""):
                raise AssertionError(f"global window in plan: {ln}")


def test_bloom_decontaminate_corpus_side_is_pure_map(documents):
    """After the broadcast bitmap is built, the corpus side must be scan →
    shingle → hash → pandas membership → aggregate: no join, no shuffle
    except the final per-doc aggregate."""
    from whatsapp_vectordb_spark.operators.dedup import bloom_decontaminate

    bench = documents.limit(20)
    p = plan(bloom_decontaminate(documents.limit(100), bench, shingle_n=5, m_bits=1 << 16))
    assert "Join" not in p  # membership is the broadcast bitmap UDF, not a join
    assert "ArrowEvalPython" in p  # the ONE pandas UDF, Arrow-batched
    assert "BatchEvalPython" not in p  # never row-at-a-time Python
    # exchanges: the per-doc shingle dedup + the final per-doc aggregate —
    # nothing else (formatted explain names each node twice, tree+detail,
    # so count the detail headers)
    import re

    n_exch = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
    assert n_exch <= 3, p


def test_sq8_scan_reads_codes_only_take_ordered(embeddings):
    """The SQ8 query path must scan the codes table with a k-heap
    (TakeOrderedAndProject), entirely JVM-side."""
    from whatsapp_vectordb_spark.operators.ann import sq8_encode, sq8_topk, sq8_train

    emb = embeddings.select("vec_id", "embedding")
    mins, deltas = sq8_train(emb)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    p = plan(sq8_topk(sq8_encode(emb, mins, deltas), qvec, deltas, k=10))
    assert "TakeOrderedAndProject" in p
    assert "EvalPython" not in p  # pure expressions, no Python


def test_ivf_sq8_probe_is_partition_pruned(spark, embeddings, tmp_path):
    """The IVF-SQ8 probe must reach the codes scan as PARTITION pruning
    (centroid is the partition column of the deployed layout) — probed
    bytes scale with nprobe/k, and the float vector column never appears
    in the scan schema."""
    from whatsapp_vectordb_spark.operators.ann import (
        ivf_sq8_topk,
        kmeans_lloyd,
        sq8_encode,
        sq8_train,
    )

    emb = embeddings.select("vec_id", "embedding")
    _, assigned, _ = kmeans_lloyd(emb, k=4, iters=1, update_mode="portable")
    mins, deltas = sq8_train(emb)
    codes = sq8_encode(emb, mins, deltas).join(
        assigned.select("vec_id", "centroid"), "vec_id"
    )
    path = str(tmp_path / "ivf_sq8_codes")
    codes.write.partitionBy("centroid").mode("overwrite").parquet(path)

    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    df = ivf_sq8_topk(spark.read.parquet(path), [0, 2], qvec, deltas, k=5)
    p = plan(df)
    assert "PartitionFilters" in p and "centroid" in p
    assert "embedding" not in p  # codes-only scan: vectors never load
    assert "TakeOrderedAndProject" in p  # per-task k-heap, no global sort
    got = df.collect()
    assert len(got) == 5


def test_ivf_sq8_rerank_prunes_partitions_and_broadcasts_shortlist(
    spark, embeddings, tmp_path
):
    """VERDICT r12 #3 plan contract for the composed serving stack: the
    shortlist stage scans the codes layout with file-level
    PartitionFilters (probed bytes ~ nprobe/k), and the exact re-rank
    side joins the shortlist by BROADCAST — the big float table never
    shuffles."""
    import re

    from whatsapp_vectordb_spark.operators.ann import (
        ivf_sq8_rerank_topk,
        kmeans_lloyd,
        sq8_encode,
        sq8_train,
    )

    emb = embeddings.select("vec_id", "embedding")
    _, assigned, _ = kmeans_lloyd(emb, k=4, iters=1, update_mode="portable")
    mins, deltas = sq8_train(emb)
    codes = sq8_encode(emb, mins, deltas).join(
        assigned.select("vec_id", "centroid"), "vec_id"
    )
    path = str(tmp_path / "ivf_sq8_rr_codes")
    codes.write.partitionBy("centroid").mode("overwrite").parquet(path)

    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    df = ivf_sq8_rerank_topk(
        spark.read.parquet(path), emb, [0, 2], qvec, deltas, k=5, shortlist=20
    )
    p = plan(df)
    assert "PartitionFilters" in p and "centroid" in p
    assert "BroadcastHashJoin" in p  # shortlist broadcasts into the floats
    # no shuffle of the float vectors table: every Exchange is either a
    # broadcast or the bounded post-shortlist rank, never a hash
    # repartition of `embedding` rows
    assert not re.search(r"Exchange hashpartitioning\(vec_id", p), p
    assert len(df.collect()) == 5


def test_ivf_sq8_batched_is_one_codes_scan(spark, embeddings, tmp_path):
    """VERDICT r12 #6 plan contract: N queries = ONE scan of the codes
    layout (pruned to the union of probed cells), with the probe map and
    per-query weight LUTs broadcast — never one scan per query."""
    import re

    from whatsapp_vectordb_spark.operators.ann import (
        ivf_sq8_batched_topk,
        kmeans_lloyd,
        sq8_encode,
        sq8_train,
    )

    emb = embeddings.select("vec_id", "embedding")
    _, assigned, _ = kmeans_lloyd(emb, k=4, iters=1, update_mode="portable")
    mins, deltas = sq8_train(emb)
    codes = sq8_encode(emb, mins, deltas).join(
        assigned.select("vec_id", "centroid"), "vec_id"
    )
    path = str(tmp_path / "ivf_sq8_b_codes")
    codes.write.partitionBy("centroid").mode("overwrite").parquet(path)

    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.where(F.col("vec_id").isin(0, 1, 2)).collect()
    ]
    probe_map = {0: [0, 1], 1: [1, 2], 2: [0, 3]}
    df = ivf_sq8_batched_topk(
        spark.read.parquet(path), queries, probe_map, deltas, k=3
    )
    p = plan(df)
    # exactly ONE scan of the codes parquet, partition-pruned to the
    # union of probed cells; the float vectors never load
    scans = re.findall(r"^\(\d+\) Scan parquet", p, flags=re.M)
    assert len(scans) == 1, p
    assert "PartitionFilters" in p and "centroid" in p
    assert "embedding" not in p
    assert "BroadcastHashJoin" in p  # probe map + weight LUTs broadcast
    got = df.collect()
    assert len(got) == 9  # 3 queries x k=3


def test_ivfpq_batched_is_one_codes_scan(spark, embeddings, tmp_path):
    """Batched IVF-PQ plan contract (the PQ twin of the SQ8 one): N
    queries = ONE scan of the 8-byte-code layout, partition-pruned to
    the union of probed cells, probe map + per-query LUTs broadcast;
    float vectors never load."""
    import re

    from whatsapp_vectordb_spark.operators.ann import (
        IvfIndex,
        PqIndex,
        ivfpq_batched_topk,
    )

    emb = embeddings.select("vec_id", "embedding")
    ivf = IvfIndex.build_balanced(emb, n_centroids=4)
    pq = PqIndex.build(emb, m=8, ksub=16, sample_rows=500, seed=0)
    codes = pq.encode(emb).join(ivf.assigned.select("vec_id", "centroid"), "vec_id")
    path = str(tmp_path / "ivfpq_b_codes")
    codes.write.partitionBy("centroid").mode("overwrite").parquet(path)

    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.where(F.col("vec_id").isin(0, 1, 2)).collect()
    ]
    probe_map = {0: [0, 1], 1: [1, 2], 2: [0, 3]}
    df = ivfpq_batched_topk(
        pq, spark.read.parquet(path), queries, probe_map, k=3
    )
    p = plan(df)
    scans = re.findall(r"^\(\d+\) Scan parquet", p, flags=re.M)
    assert len(scans) == 1, p
    assert "PartitionFilters" in p and "centroid" in p
    assert "embedding" not in p
    assert "BroadcastHashJoin" in p
    got = df.collect()
    assert len(got) == 9  # 3 queries x k=3


def test_ivf_sq8_batched_rerank_never_shuffles_floats(spark, embeddings, tmp_path):
    """Batched two-stage serving plan contract: ONE partition-pruned
    codes scan feeds every query's shortlist, and the exact re-rank
    joins the |Q|·shortlist pair set into the float table by BROADCAST —
    the float table is never hash-repartitioned."""
    import re

    from whatsapp_vectordb_spark.operators.ann import (
        ivf_sq8_batched_rerank_topk,
        kmeans_lloyd,
        sq8_encode,
        sq8_train,
    )

    emb = embeddings.select("vec_id", "embedding")
    _, assigned, _ = kmeans_lloyd(emb, k=4, iters=1, update_mode="portable")
    mins, deltas = sq8_train(emb)
    codes = sq8_encode(emb, mins, deltas).join(
        assigned.select("vec_id", "centroid"), "vec_id"
    )
    path = str(tmp_path / "ivf_sq8_brr_codes")
    codes.write.partitionBy("centroid").mode("overwrite").parquet(path)

    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.where(F.col("vec_id").isin(0, 1)).collect()
    ]
    probe_map = {0: [0, 1], 1: [1, 2]}
    df = ivf_sq8_batched_rerank_topk(
        spark.read.parquet(path), emb, queries, probe_map, deltas, k=3, shortlist=10
    )
    p = plan(df)
    # exactly TWO parquet scans — the codes layout (pruned, scanned once
    # for BOTH queries) and the float table (scanned once for the whole
    # re-rank) — and the shortlist joins into the floats by broadcast;
    # the only hash exchanges are the bounded query_id-keyed window
    # ranks, never a vec_id repartition of the float rows
    scans = re.findall(r"^\(\d+\) Scan parquet", p, flags=re.M)
    assert len(scans) == 2, p
    assert "PartitionFilters" in p and "centroid" in p
    assert "BroadcastHashJoin" in p
    assert not re.search(r"Exchange hashpartitioning\(vec_id", p), p
    got = df.collect()
    assert len(got) == 6  # 2 queries x k=3


def test_semdedup_pair_join_is_cluster_scoped_equi_join(spark, embeddings):
    """SemDeDup's scale contract: pairwise cosine happens only WITHIN a
    cluster — the candidate join must be a centroid-keyed equi-join
    (shuffle/broadcast hash join), never a cartesian/nested-loop over
    the corpus; the kilobyte centroid table broadcasts."""
    from whatsapp_vectordb_spark.operators.ann import semdedup

    out = semdedup(
        embeddings.select("vec_id", "embedding"), n_clusters=4, threshold=0.95
    )
    p = plan(out)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastExchange" in p  # the centroid vector table
    # the dominated-row check reaches the plan as a real join on centroid
    assert "centroid" in p


def test_ivf_sq8_index_ingest_prunes_both_code_layouts(spark, embeddings, tmp_path):
    """A loaded index that carries batch-dir appends must push the probed
    cells into EVERY code layout's scan (base + batches) — the union
    must not defeat partition pruning."""
    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "ingest_prune")
    IvfSq8Index.build(emb, n_centroids=4).save(path)
    copies = emb.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 90000).alias("vec_id"), "embedding"
    )
    IvfSq8Index.load(spark, path).add_batch(copies, path=path)
    loaded = IvfSq8Index.load(spark, path)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    cells = loaded.probe_centroid_ids(qvec, nprobe=2)
    p = plan(loaded.probe(qvec, k=5, nprobe=2))
    part, pushed = cell_pruned_scans(p)
    # one pruned scan per layout root: the base codes by dir, the one
    # committed batch by its pushed centroid filter
    assert len(part) == 1 and len(pushed) == 1, p
    for ln in part + pushed:
        assert all(str(c) in ln for c in cells), ln


def test_semdedup_index_election_is_one_cogroup_on_centroid(spark, embeddings, tmp_path):
    """SemDedupIndex's scale contract: a batch meets the stored
    representatives through ONE centroid-keyed cogroup — exchanges only
    on the cluster key, no cartesian/nested-loop, no join that drags
    the whole stored corpus against the batch."""
    from whatsapp_vectordb_spark.operators.dedup_index import SemDedupIndex

    emb = embeddings.select("vec_id", "embedding")
    idx = SemDedupIndex(spark, str(tmp_path / "sd_plan"), n_clusters=4)
    idx.add_batch(emb.where(F.col("vec_id") < 100))
    # second batch's PRE-CHECKPOINT plan: reconstruct the exact frame
    # add_batch builds (the committed method checkpoints, which truncates
    # explain output)
    import numpy as np

    from whatsapp_vectordb_spark.operators.ann import assign_nearest_centroid

    cents = idx._load_centroids()
    batch = emb.where(F.col("vec_id") >= 100)
    assigned = assign_nearest_centroid(batch, cents, "embedding").select(
        "vec_id", "embedding", F.col("centroid").cast("int").alias("centroid")
    )
    stored = idx._stored("kept")
    res = (
        assigned.groupBy("centroid")
        .cogroup(stored.groupBy("centroid"))
        .applyInPandas(
            lambda l, r: l.assign(cent_sim=0.0, kept=True)[
                ["vec_id", "centroid", "cent_sim", "kept"]
            ],
            schema="vec_id long, centroid int, cent_sim double, kept boolean",
        )
    )
    p = plan(res)
    assert "FlatMapCoGroupsInPandas" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # every exchange keys on the cluster id — nothing reshuffles on rows
    for ln in p.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "centroid" in ln, ln


def test_zorder_layout_has_no_single_partition_exchange(spark):
    """VERDICT r14 #7: the Z-order file assignment was the one remaining
    unpartitioned full-table window (global ntile). Now it's the house
    two-phase scan: range-partition on the composite key, row_number per
    partition, closed-form ntile over the offset global rank — so the
    plan must show no SinglePartition exchange and the window must
    partition on _pid, never globally."""
    from whatsapp_vectordb_spark.operators.layout import zorder_file_stats

    df = spark.createDataFrame(
        [(i, (i * 13) % 64, (i * 29) % 64) for i in range(512)],
        "rid long, x long, y long",
    )
    p = plan(zorder_file_stats(df, "x", "y", "rid", n_files=8, bits=8))
    assert "SinglePartition" not in p
    assert "windowspecdefinition(_pid" in p


def test_ivfpq_index_ingest_prunes_both_code_layouts(spark, embeddings, tmp_path):
    """IvfPqIndex twin of the SQ8 ingest prune test: a loaded index
    carrying batch-dir appends must push the probed cells into EVERY
    code layout's scan (base + batches) — the union must not defeat
    partition pruning; float vectors never load in the probe."""
    from whatsapp_vectordb_spark.operators.ann import IvfPqIndex

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "ivfpq_ingest_prune")
    IvfPqIndex.build(emb, n_centroids=4, m=8, ksub=16, sample_rows=500).save(path)
    copies = emb.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 90000).alias("vec_id"), "embedding"
    )
    IvfPqIndex.load(spark, path).add_batch(copies, path=path)
    loaded = IvfPqIndex.load(spark, path)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    cells = loaded.probe_cells(qvec, nprobe=2)
    p = plan(loaded.probe(qvec, k=5, nprobe=2))
    part, pushed = cell_pruned_scans(p)
    # one pruned scan per layout root: the base codes by dir, the one
    # committed batch by its pushed centroid filter
    assert len(part) == 1 and len(pushed) == 1, p
    for ln in part + pushed:
        assert all(str(c) in ln for c in cells), ln
    assert "embedding" not in p  # codes-only probe


def test_ivf_sq8_index_delete_mask_keeps_pruning_and_broadcasts(
    spark, embeddings, tmp_path
):
    """The mutation verbs' scale contract: a loaded index carrying
    tombstones must still push the probed cells into EVERY code layout
    root (base + each batch dir), and the tombstone mask itself must be
    a BROADCAST anti-join — deletes may never introduce a shuffle or
    defeat partition pruning on the serving path."""
    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "mutate_plan")
    IvfSq8Index.build(emb, n_centroids=4).save(path)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    repl = emb.where(F.col("vec_id") % 25 == 0).select(
        "vec_id", F.lit(qvec).cast("array<float>").alias("embedding")
    )
    IvfSq8Index.load(spark, path).upsert(repl, path=path)
    IvfSq8Index.load(spark, path).delete([3, 23], path=path)
    loaded = IvfSq8Index.load(spark, path)
    cells = loaded.probe_centroid_ids(qvec, nprobe=2)
    p = plan(loaded.probe(qvec, k=5, nprobe=2))
    part, pushed = cell_pruned_scans(p)
    # one pruned scan per CODES root: the base by dir, the upsert's batch
    # dir by its pushed centroid filter (the delete-only dir holds no
    # codes); the tombstone scans are unpruned kilobyte reads and must
    # not appear with centroid filters
    assert len(part) == 1 and len(pushed) == 1, p
    for ln in part + pushed:
        assert all(str(c) in ln for c in cells), ln
    # the mask is a broadcast hash anti-join, never a shuffle of codes —
    # and the tombstones themselves are not folded per id: the raw rows
    # broadcast, no groupBy, so nothing shuffles anywhere
    assert "BroadcastHashJoin LeftAnti BuildRight" in p, p
    assert "SortMergeJoin" not in p, p
    assert "Exchange hashpartitioning" not in p, p
    assert "HashAggregate" not in p, p


def test_ivf_sq8_search_rerank_scan_carries_no_score_filter(
    spark, embeddings, tmp_path
):
    """The exact re-rank scores only the shortlisted rows: the NULL-score
    filter is never pushed below the shortlist join into the float scans
    (where it would score every float row of the probed cells, and
    score each row twice)."""
    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "rerank_plan")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    repl = emb.where(F.col("vec_id") % 25 == 0).select(
        "vec_id", F.lit(qvec).cast("array<float>").alias("embedding")
    )
    IvfSq8Index.load(spark, path).upsert(repl, path=path)
    loaded = IvfSq8Index.load(spark, path)
    res = loaded.search(query_vec=qvec, k=5)
    res.collect()
    p = res._jdf.queryExecution().executedPlan().toString()
    # the float scans of the final plan (the string goes on to print the
    # initial plan): the ones whose read schema holds the embedding
    final = p.split("== Initial Plan ==")[0]
    scans = [
        ln for ln in final.splitlines() if "FileScan" in ln and "embedding:" in ln
    ]
    # one float scan per vectors root: the base and the upsert's commit
    assert len(scans) == 2, p
    for ln in scans:
        assert "aggregate(" not in ln, ln


def test_ivf_sq8_index_filtered_probe_keeps_pruning_and_broadcasts(
    spark, embeddings, tmp_path
):
    """The filtered-query verb's scale contract: the ``allowed`` id set
    semi-joins into the codes scan as a BROADCAST above an intact
    partition filter — the metadata filter may never defeat pruning or
    shuffle the codes."""
    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "filter_plan")
    IvfSq8Index.build(emb, n_centroids=4).save(path)
    loaded = IvfSq8Index.load(spark, path)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    lbl = embeddings.where(F.col("vec_id") == 7).head()["label"]
    allowed = embeddings.where(F.col("label") == lbl).select("vec_id")
    cells = loaded.probe_centroid_ids(qvec, nprobe=2)
    p = plan(loaded.probe(qvec, k=5, nprobe=2, allowed=allowed))
    pruned_scans = [
        ln for ln in p.splitlines() if "PartitionFilters" in ln and "centroid" in ln
    ]
    assert len(pruned_scans) == 1, p
    assert all(str(c) in pruned_scans[0] for c in cells), pruned_scans[0]
    assert "BroadcastHashJoin LeftSemi BuildRight" in p, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p
    # the metadata predicate itself pushed into the metadata table's scan
    assert "PushedFilters: [IsNotNull(label), EqualTo(label" in p, p


def test_ivfpq_index_filtered_probe_keeps_pruning_and_broadcasts(
    spark, embeddings, tmp_path
):
    """The MEMORY-bound tier's filtered-query verb (shared
    ``_allowed_codes``): same contract as the SQ8 twin — allowed ids
    broadcast semi-join above an intact partition filter; no shuffle,
    no cartesian, metadata predicate pushed to its own scan."""
    from whatsapp_vectordb_spark.operators.ann import IvfPqIndex

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "pq_filter_plan")
    IvfPqIndex.build(emb, n_centroids=4, m=8, ksub=16, sample_rows=500).save(path)
    loaded = IvfPqIndex.load(spark, path)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    lbl = embeddings.where(F.col("vec_id") == 7).head()["label"]
    allowed = embeddings.where(F.col("label") == lbl).select("vec_id")
    cells = loaded.probe_cells(qvec, nprobe=2)
    p = plan(loaded.probe(qvec, k=5, nprobe=2, allowed=allowed))
    pruned_scans = [
        ln for ln in p.splitlines() if "PartitionFilters" in ln and "centroid" in ln
    ]
    assert len(pruned_scans) == 1, p
    assert all(str(c) in pruned_scans[0] for c in cells), pruned_scans[0]
    assert "BroadcastHashJoin LeftSemi BuildRight" in p, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p
    assert "PushedFilters: [IsNotNull(label), EqualTo(label" in p, p


def test_retained_snapshot_plan_prunes_and_tip_ignores_retention(
    spark, embeddings, tmp_path
):
    """Snapshot retention's scale contract (r17): (a) a TIP read over a
    folded layout never touches the retention machinery — its plan
    scans exactly the folded base + live commits, no ``_retained``
    path anywhere (retention costs tip readers nothing); (b) a
    RETAINED-epoch snapshot plan unions one scan per resolved source
    group + the retained commit roots within the bound — the LIVE
    commit log (newer epoch's batches) contributes no scan, partition
    pruning (centroid filters) reaches every branch, and the tombstone
    mask stays a broadcast anti-join."""
    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        _snapshot_cell_sources,
    )

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "ret_plan")
    IvfSq8Index.build(emb, n_centroids=4).save(path)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    repl = emb.where(F.col("vec_id") % 25 == 0).select(
        "vec_id", F.lit(qvec).cast("array<float>").alias("embedding")
    )
    IvfSq8Index.load(spark, path).upsert(repl, path=path)  # (0, 1) codes
    IvfSq8Index.load(spark, path).delete([3, 23], path=path)  # (0, 2)
    IvfSq8Index.load(spark, path).save(path)  # FOLD → epoch 1
    IvfSq8Index.load(spark, path).upsert(  # (1, 1) — beyond the bound
        repl.where(F.col("vec_id") % 50 == 0), path=path
    )

    def scans(p):
        return [ln for ln in p.splitlines() if "Scan parquet" in ln]

    # (a) tip read: folded base + the one live commit — retention free
    # (match the layout's retained ROOT, not the bare "_retained"
    # substring: this test's own pytest tmp dir name contains it)
    ret_root = os.path.join(path, "_retained")
    tip = IvfSq8Index.load(spark, path)
    cells = tip.probe_centroid_ids(qvec, nprobe=2)
    p_tip = plan(tip.probe(qvec, k=5, nprobe=2))
    assert ret_root not in p_tip, p_tip
    part, pushed = cell_pruned_scans(p_tip)
    assert len(part) == 1 and len(pushed) == 1, p_tip
    for ln in part + pushed:
        assert all(str(c) in ln for c in cells), ln

    # (b) retained snapshot at (0, 2)
    snap = IvfSq8Index.load(spark, path, as_of=(0, 2))
    groups = len(set(_snapshot_cell_sources(path, 0).values()))
    p_snap = plan(snap.probe(qvec, k=5, nprobe=2))
    # source groups (by dir) + the (0,1) batch codes root (by pushed
    # filter); the epoch-1 live commit contributes NO scan
    part, pushed = cell_pruned_scans(p_snap)
    assert len(part) == groups and len(pushed) == 1, p_snap
    cells = snap.probe_centroid_ids(qvec, nprobe=2)
    for ln in part + pushed:
        assert all(str(c) in ln for c in cells), ln
    live_batches = sorted(os.listdir(os.path.join(path, "batches")))
    assert live_batches and all(b not in p_snap for b in live_batches), (
        p_snap
    )
    assert "BroadcastHashJoin LeftAnti BuildRight" in p_snap, p_snap
    assert "SortMergeJoin" not in p_snap, p_snap


def test_folded_tip_and_current_epoch_bound_read_one_plan(
    spark, embeddings, tmp_path
):
    """After a fold, the tip and the current epoch's tip bound are the
    same snapshot through the one reader: identical optimized plans
    (expression ids normalized), and the all-live base reads whole —
    no ``centroid IN`` filter narrows it to a cell list."""
    import re

    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        layout_snapshots,
    )

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "fold_bound_plan")
    IvfSq8Index.build(emb, n_centroids=4).save(path, store_vectors=True)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    repl = emb.where(F.col("vec_id") % 25 == 0).select(
        "vec_id", F.lit(qvec).cast("array<float>").alias("embedding")
    )
    IvfSq8Index.load(spark, path).upsert(repl, path=path)
    IvfSq8Index.load(spark, path).save(path)  # FOLD → epoch 1
    IvfSq8Index.load(spark, path).upsert(  # (1, 1)
        repl.where(F.col("vec_id") % 50 == 0), path=path
    )
    IvfSq8Index.load(spark, path).delete([3, 23], path=path)  # (1, 2)
    bound = max(layout_snapshots(path))
    assert bound == (1, 2)

    def optimized(df):
        # expression ids, and the counters in generated lambda names
        p = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"(_\d+)?#\d+L?", "#", p)

    tip = IvfSq8Index.load(spark, path)
    snap = IvfSq8Index.load(spark, path, as_of=bound)
    for table in ("codes", "vectors"):
        p_tip = optimized(getattr(tip, table))
        assert p_tip == optimized(getattr(snap, table)), table
        assert "centroid# IN" not in p_tip and "INSET" not in p_tip, p_tip
    assert optimized(tip.search(query_vec=qvec, k=5)) == optimized(
        snap.search(query_vec=qvec, k=5)
    )


def test_time_travel_snapshot_drops_newer_roots_keeps_pruning(
    spark, embeddings, tmp_path
):
    """Time travel's scale contract: a ``load(as_of=N)`` snapshot plan
    unions ONLY the code roots committed at or before the bound —
    commits newer than N contribute no scan at all (the bound is pure
    metadata, not a runtime filter) — with partition pruning intact on
    every surviving root and the tombstone mask still a broadcast
    anti-join. The tip plan over the same layout shows the extra root,
    proving the bound (not the layout) removed it."""
    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    emb = embeddings.select("vec_id", "embedding")
    path = str(tmp_path / "tt_plan")
    IvfSq8Index.build(emb, n_centroids=4).save(path)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    repl = emb.where(F.col("vec_id") % 25 == 0).select(
        "vec_id", F.lit(qvec).cast("array<float>").alias("embedding")
    )
    IvfSq8Index.load(spark, path).upsert(repl, path=path)  # seq1: codes
    IvfSq8Index.load(spark, path).delete([3, 23], path=path)  # seq2
    IvfSq8Index.load(spark, path).upsert(  # seq3: codes (beyond bound)
        repl.where(F.col("vec_id") % 50 == 0), path=path
    )

    snap = IvfSq8Index.load(spark, path, as_of=2)
    cells = snap.probe_centroid_ids(qvec, nprobe=2)
    p_snap = plan(snap.probe(qvec, k=5, nprobe=2))
    # base + the seq1 batch dir only — the seq3 dir is NOT in the plan
    part, pushed = cell_pruned_scans(p_snap)
    assert len(part) == 1 and len(pushed) == 1, p_snap
    for ln in part + pushed:
        assert all(str(c) in ln for c in cells), ln
    assert "BroadcastHashJoin LeftAnti BuildRight" in p_snap, p_snap
    assert "SortMergeJoin" not in p_snap, p_snap

    p_tip = plan(IvfSq8Index.load(spark, path).probe(qvec, k=5, nprobe=2))
    part, pushed = cell_pruned_scans(p_tip)
    assert len(part) == 1 and len(pushed) == 2, p_tip
