"""Structured Streaming twin queries.

Split out of the monolithic harness.py (registration order preserved
within each family; see harness/__init__.py for the module order).
"""
from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window

from whatsapp_vectordb_spark.session import local_df
from pyspark.sql import functions as F

from whatsapp_vectordb_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    euclidean_distance,
    l2_norm,
)
from whatsapp_vectordb_spark.operators.search import topk, topk_batched

from whatsapp_vectordb_spark.harness._core import ORACLES, _CHAT_LINE_SQL, _augmented_docs, _chat_lines_df, _oracle_scratch, _register, _semdedup_certificate_sql, _t, _tmp_scratch, _write_jsonl_corpus  # noqa: E501



@_register(
    "streaming_session_windows",
    """
WITH t AS (SELECT user_id, ts, event_id, value FROM events),
m AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM t
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM m
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM s GROUP BY user_id, sid
""",
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_session_windows run through the REAL streaming engine:
    state-store session merging + watermark eviction, replayed bounded and
    checked against the batch gaps-and-islands oracle."""
    from whatsapp_vectordb_spark.streaming.ops import run_session_window_stream

    return run_session_window_stream(spark, os.path.join(sf_dir, "events.parquet"))


# ==========================================================================
# Structured Streaming: the events table replayed THROUGH the streaming
# engine (file source → watermark → windowed agg → memory sink); on bounded
# input it must equal the batch answer, which this oracle checks.
# ==========================================================================


@_register(
    "streaming_hourly_windows",
    """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def streaming_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.streaming.ops import run_events_hourly_stream

    return run_events_hourly_stream(spark, os.path.join(sf_dir, "events.parquet"))


# ==========================================================================
# Custom stateful streaming (applyInPandasWithState): per-user session
# counts folded through per-group state; must equal the batch window-lag
# sessionization (the oracle).
# ==========================================================================


@_register(
    "streaming_sessionized",
    """
WITH t AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (SELECT user_id, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM t)
SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM s GROUP BY user_id
""",
)
def streaming_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.streaming.ops import run_sessionized_stream

    return run_sessionized_stream(spark, os.path.join(sf_dir, "events.parquet"))


@_register("streaming_jsonl_ingest", ORACLES["compat_jsonl_scan"])
def streaming_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JSONL ingest as a STREAM: three shard files replayed one per
    micro-batch (drop-folder pattern), each batch's rows appended under
    its batch_id with dynamic partition overwrite (retry-idempotent);
    after full replay the accumulated per-(lang, parse_ok) totals must
    equal the one-shot batch scan — same oracle, same quarantine
    contract, through the streaming engine."""
    import shutil
    import tempfile

    scratch = _tmp_scratch("wvs_jsonl_stream_")
    drop = os.path.join(scratch, "drop")
    _write_jsonl_corpus(spark, sf_dir, drop, shards=3)
    out_dir = os.path.join(scratch, "rows")

    stream = (
        spark.readStream.schema("doc_id bigint, lang string, text string")
        .option("maxFilesPerTrigger", "1")
        .json(drop)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id).cast("long"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()
    shutil.rmtree(drop, ignore_errors=True)

    collected = spark.read.schema(
        "doc_id bigint, lang string, text string, batch_id bigint"
    ).parquet(out_dir)
    return (
        collected.withColumn("parse_ok", F.col("doc_id").isNotNull())
        .groupBy("lang", "parse_ok")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("docid_sum"),
            F.sum(F.length("text")).cast("long").alias("chars_sum"),
        )
    )


@_register(
    "streaming_distinct_keys",
    """
SELECT DISTINCT user_id, event_type FROM events
""",
)
def streaming_distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (withWatermark + dropDuplicates) replayed over
    the events table; on bounded input the surviving key set must equal
    batch DISTINCT, which the oracle checks."""
    from whatsapp_vectordb_spark.streaming.ops import run_streaming_distinct

    return run_streaming_distinct(spark, os.path.join(sf_dir, "events.parquet"))


@_register(
    "streaming_enriched_counts",
    """
SELECT c.c_mktsegment, e.event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(e.value), 4) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""",
)
def streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join: events replayed through the streaming
    engine, enriched with the static customer dim per micro-batch; result
    must equal the batch join+aggregate (the oracle)."""
    from whatsapp_vectordb_spark.streaming.ops import run_stream_static_enrich

    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return run_stream_static_enrich(spark, os.path.join(sf_dir, "events.parquet"), dim)


@_register(
    "streaming_stream_stream_join",
    """
SELECT c.event_id AS click_id, e.event_id AS error_id, c.user_id
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
  ON e.user_id = c.user_id
 AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 300 SECONDS
""",
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.streaming.ops import run_stream_stream_join

    return run_stream_stream_join(spark, os.path.join(sf_dir, "events.parquet"))


# ==========================================================================
# Round 3: streaming top-k maintenance (streaming/ops.py
# run_topk_maintenance_stream) — foreachBatch leaderboard materialization;
# the merge is a semilattice so the replayed result equals the batch SQL.
# ==========================================================================


@_register(
    "streaming_topk_events",
    """
SELECT event_id, user_id, ROUND(value, 6) AS score
FROM events
ORDER BY score DESC, event_id ASC
LIMIT 10
""",
)
def streaming_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from whatsapp_vectordb_spark.streaming.ops import run_topk_maintenance_stream

    state_dir = _tmp_scratch("wvs_topk_stream_")
    return run_topk_maintenance_stream(
        spark, os.path.join(sf_dir, "events.parquet"), state_dir, k=10
    )


@_register(
    "streaming_knn_serving",
    """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS query_vec
           FROM embeddings WHERE vec_id < 6)
SELECT query_id, vec_id, score, CAST(rank AS INTEGER) AS rank FROM (
  SELECT q.query_id, e.vec_id,
         ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.query_vec), 6) AS score,
         ROW_NUMBER() OVER (
            PARTITION BY q.query_id
            ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.query_vec), 6) DESC,
                     e.vec_id ASC
         ) AS rank
  FROM embeddings e CROSS JOIN q
) WHERE rank <= 3
""",
)
def streaming_knn_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 6: ONLINE SERVING — the reference's query loop (main.go:95)
    as a stream. Six query vectors arrive as three dropped files (two per
    micro-batch); each batch is answered against the STATIC index with
    the same exact batched top-k plan as the batch engine; after full
    replay the accumulated answers must be bit-equal to the one-shot
    batch over the same queries (this oracle = knn_batched's, vec_id<6)."""
    import shutil
    import tempfile

    from whatsapp_vectordb_spark.streaming.ops import run_knn_serving_stream

    scratch = _tmp_scratch("wvs_knn_serve_")
    drop = os.path.join(scratch, "queries")
    os.makedirs(drop)
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    queries = (
        spark.read.parquet(emb_path)
        .where(F.col("vec_id") < 6)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
        .orderBy("query_id")
        .collect()
    )
    for i in range(3):
        two = queries[2 * i : 2 * i + 2]
        local_df(spark, 
            [(r["query_id"], r["query_vec"]) for r in two],
            "query_id bigint, query_vec array<float>",
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(scratch, f"stage{i}"))
        part = [
            f
            for f in os.listdir(os.path.join(scratch, f"stage{i}"))
            if f.endswith(".parquet")
        ][0]
        shutil.copy(
            os.path.join(scratch, f"stage{i}", part),
            os.path.join(drop, f"queries_{i}.parquet"),
        )
    return run_knn_serving_stream(
        spark, emb_path, drop, os.path.join(scratch, "answers"), k=3, round_to=6
    )


# ==========================================================================
# Round 3: streaming IVF maintenance (streaming/ops.py
# run_ivf_maintenance_stream) — bootstrap quantizer on history, stream the
# rest through foreachBatch with INTEGER-exact nearest-cell assignment.
# The oracle recomputes every assignment from the PERSISTED centroids with
# the same quantized integer L2 (ties → lower centroid id), proving the
# incremental stream state equals a from-scratch build.
# ==========================================================================

_IVF_STREAM_DIR = _oracle_scratch("ivf_stream_oracle")

_IVF_STREAM_ORACLE = f"""
WITH cents AS (
  SELECT centroid, cvec FROM read_parquet('{_IVF_STREAM_DIR}/centroids/*.parquet')
),
qv AS (
  SELECT vec_id, i.i AS pos,
         CAST(round(embedding[i.i + 1]::DOUBLE * 1000000) AS BIGINT) AS q
  FROM embeddings CROSS JOIN range(0,64) i(i)
),
qc AS (
  SELECT centroid, i.i AS pos,
         CAST(round(cvec[i.i + 1]::DOUBLE * 1000000) AS BIGINT) AS q
  FROM cents CROSS JOIN range(0,64) i(i)
),
d AS (
  SELECT v.vec_id, c.centroid, SUM((v.q - c.q) * (v.q - c.q)) AS dist
  FROM qv v JOIN qc c ON v.pos = c.pos GROUP BY 1, 2
),
a AS (
  SELECT vec_id, centroid FROM (
    SELECT vec_id, centroid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, centroid ASC) AS rn
    FROM d
  ) WHERE rn = 1
)
SELECT CAST(centroid AS BIGINT) AS centroid, COUNT(*) AS n_vectors
FROM a GROUP BY 1
"""


@_register("streaming_ivf_maintenance", _IVF_STREAM_ORACLE)
def streaming_ivf_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.streaming.ops import run_ivf_maintenance_stream

    return run_ivf_maintenance_stream(
        spark, os.path.join(sf_dir, "embeddings.parquet"), _IVF_STREAM_DIR
    )


# ==========================================================================
# Round 4: streaming drift monitor — per-batch histogram sketches appended
# via foreachBatch, merged by sum (mergeable), PSI vs the batch reference.
# Oracle = the SAME SQL as the batch events_value_drift: a sum-mergeable
# sketch makes stream accumulation ≡ one-shot computation.
# ==========================================================================


@_register(
    "streaming_drift_monitor",
    """
WITH ref AS (
  SELECT event_type, CAST(floor(value::DOUBLE * 10) AS BIGINT) AS bin
  FROM events WHERE user_id < 750
),
cur AS (
  SELECT event_type, CAST(floor(value::DOUBLE * 1.25 * 10) AS BIGINT) AS bin
  FROM events WHERE user_id >= 750
),
br AS (SELECT event_type AS g, bin, COUNT(*) AS c_r FROM ref GROUP BY 1, 2),
bc AS (SELECT event_type AS g, bin, COUNT(*) AS c_c FROM cur GROUP BY 1, 2),
j AS (
  SELECT COALESCE(br.g, bc.g) AS g, COALESCE(br.bin, bc.bin) AS bin,
         COALESCE(c_r, 0) AS c_r, COALESCE(c_c, 0) AS c_c
  FROM br FULL OUTER JOIN bc ON br.g = bc.g AND br.bin = bc.bin
),
t AS (SELECT g, SUM(c_r) AS t_r, SUM(c_c) AS t_c, COUNT(*) AS n_bins FROM j GROUP BY 1),
terms AS (
  SELECT j.g, t.n_bins,
         CAST(round(
           ((c_c + 1.0) / (t_c + n_bins) - (c_r + 1.0) / (t_r + n_bins))
           * ln(((c_c + 1.0) / (t_c + n_bins)) / ((c_r + 1.0) / (t_r + n_bins)))
           * 1000000000) AS BIGINT) AS tq
  FROM j JOIN t ON j.g = t.g
)
SELECT g AS event_type, n_bins, ROUND(SUM(tq) / 1000000000.0, 6) AS psi
FROM terms GROUP BY 1, 2
""",
)
def streaming_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift monitoring as a STREAM: the current population's histogram
    cells accumulate per micro-batch (foreachBatch append), the merged
    sketch is a sum-groupBy, and the final PSI equals the one-shot batch
    answer exactly — sum-mergeable sketches make micro-batching invisible
    (streaming/ops.py run_drift_monitor_stream)."""
    import shutil
    import tempfile

    from whatsapp_vectordb_spark.streaming.ops import run_drift_monitor_stream

    state = _tmp_scratch("wvs_drift_")
    try:
        out = run_drift_monitor_stream(
            spark, os.path.join(sf_dir, "events.parquet"), state
        ).collect()
    finally:
        shutil.rmtree(state, ignore_errors=True)
    return local_df(spark, out, "event_type string, n_bins bigint, psi double")


# Streaming HLL maintenance: stream ≡ batch (register MAX-merge is
# associative), so the oracle is literally the batch events_hll_users SQL.
@_register("streaming_hll_registers", ORACLES["events_hll_users"])
def streaming_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batched HLL register maintenance via foreachBatch (per-batch
    sparse register deltas, idempotent batch_id-keyed sink); the merged
    estimate must equal the one-shot batch sketch bit-for-bit
    (streaming/ops.py run_hll_register_stream)."""
    import shutil

    from whatsapp_vectordb_spark.streaming.ops import run_hll_register_stream

    state = _oracle_scratch("hll_stream_state")
    shutil.rmtree(state, ignore_errors=True)
    return run_hll_register_stream(
        spark, os.path.join(sf_dir, "events.parquet"), state
    )


# Streaming ingest-time dedup: the persistent MinHash index fed by the
# STREAMING ENGINE (file source, one file per micro-batch); the union of
# per-batch pair sets must equal the one-shot batch dedup, so the oracle
# is literally dedup_minhash_lsh's SQL.
@_register("streaming_dedup_index", ORACLES["dedup_minhash_lsh"])
def streaming_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time near-dup detection as a real Structured Streaming
    pipeline: the augmented corpus is written as 3 files and replayed
    file-per-trigger through foreachBatch; each micro-batch probes the
    stored band keys, emits its pairs (idempotently keyed by batch_id),
    and appends only its own state (operators/dedup_index.py
    MinHashDedupIndex.add_batch). Union of batch pair sets ≡ one-shot
    batch dedup under ANY batch split."""
    import shutil

    from whatsapp_vectordb_spark.operators.dedup_index import MinHashDedupIndex

    root = _oracle_scratch("stream_dedup")
    shutil.rmtree(root, ignore_errors=True)
    aug = _augmented_docs(spark, sf_dir)
    src = os.path.join(root, "src")
    aug.repartition(3).write.mode("overwrite").parquet(src)

    idx = MinHashDedupIndex(
        spark, os.path.join(root, "idx"), num_hashes=16, bands=4, shingle_n=3,
        threshold=0.5,
    )
    pairs_dir = os.path.join(root, "pairs")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # durable-pairs ordering: pairs persist BEFORE the state appends
        # commit (the add_batch durability contract, ADVICE r11)
        idx.add_batch(batch_df, pairs_path=pairs_dir, batch_key=batch_id)

    stream = (
        spark.readStream.schema(aug.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()

    return (
        spark.read.schema("id_a long, id_b long, jaccard double, batch_id long")
        .parquet(pairs_dir)
        .drop("batch_id")
    )


@_register(
    "streaming_whatsapp_source",
    f"""
WITH lines AS ({_CHAT_LINE_SQL})
SELECT CASE WHEN ok THEN sender_raw END AS sender,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed
FROM (
  SELECT regexp_extract(value, '^\\[(\\d{{2}}\\.\\d{{2}}\\.\\d{{2}}, \\d{{2}}:\\d{{2}}:\\d{{2}})\\] ~?\\s*([^:]+): (.*)$', 1) <> '' AS ok,
         trim(regexp_extract(value, '^\\[(\\d{{2}}\\.\\d{{2}}\\.\\d{{2}}, \\d{{2}}:\\d{{2}}:\\d{{2}})\\] ~?\\s*([^:]+): (.*)$', 2)) AS sender_raw
  FROM lines
)
GROUP BY 1
""",
)
def streaming_whatsapp_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chat connector as a STREAMING source: the corpus is dropped
    into a folder as 3 export files and tailed via the data source's
    simpleStreamReader (offset = files consumed, exact replay between
    offsets); per-batch rows append through an idempotent batch_id sink
    and the final per-sender tallies must equal the one-shot batch parse
    — connector, ingest loop, and parser all exercised by one oracle."""
    import os as _os
    import shutil

    from whatsapp_vectordb_spark.sources import whatsapp_source

    scratch = _oracle_scratch("whatsapp_stream")
    shutil.rmtree(scratch, ignore_errors=True)
    src_dir = _os.path.join(scratch, "drop")
    _os.makedirs(src_dir)
    rows = _chat_lines_df(spark, sf_dir).orderBy("doc_id").collect()
    third = (len(rows) + 2) // 3
    for i in range(3):
        with open(_os.path.join(src_dir, f"export_{i}.txt"), "w", encoding="utf-8") as f:
            for r in rows[i * third : (i + 1) * third]:
                f.write(r["value"] + "\n")

    fmt = whatsapp_source.register(spark)
    out_dir = _os.path.join(scratch, "rows")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id).cast("long"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    stream = spark.readStream.format(fmt).load(src_dir)
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()

    collected = spark.read.schema(
        "line_no long, ts_raw string, sender string, message string, "
        "parse_ok boolean, batch_id long"
    ).parquet(out_dir)
    return collected.groupBy("sender").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.when(F.col("parse_ok"), 1).otherwise(0)).cast("long").alias("n_parsed"),
    )


# ==========================================================================
# Round 7: STREAMING CAPSTONE (VERDICT r6 #5) — ingest → quarantine →
# ingest-time dedup → index maintenance → kNN serving composed in ONE
# streaming pipeline. The corpus is delivered as JSONL vector files (the
# reference ingests vectors from flat files too, embed/embed.go:85-96):
# file f carries vec_id % 3 == f, every line with (vec_id*7 + f) % 37 == 0
# truncated mid-array (malformed JSON → quarantined), and file 2 ALSO
# re-delivers every vec_id % 5 == 0 (at-least-once delivery). Each
# micro-batch drops malformed rows, dedups within-batch AND against the
# persisted index (insert-if-absent), and appends only new vectors; after
# full replay, serving answers fixed queries against the stream-built
# index. The oracle is the BATCH COMPOSITION, fully analytic: membership
# = "some delivery of v was valid", scores from the source table — no
# persisted Spark state is consulted, so replay ≡ batch is a real check.
# The checksum row (query_id = -1) pins exact index membership: sum of
# ids, sum of squared ids, and the member count.
@_register(
    "streaming_pipeline_capstone",
    """
WITH member AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE ((vec_id * 7 + vec_id % 3) % 37 <> 0)
     OR (vec_id % 5 = 0 AND (vec_id * 7 + 2) % 37 <> 0)
),
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS query_vec
  FROM embeddings WHERE vec_id < 4
),
answers AS (
  SELECT query_id, vec_id, score, CAST(rank AS INTEGER) AS rank FROM (
    SELECT q.query_id, m.vec_id,
           ROUND(list_cosine_similarity(m.embedding::DOUBLE[], q.query_vec), 6) AS score,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY ROUND(list_cosine_similarity(m.embedding::DOUBLE[], q.query_vec), 6) DESC,
                      m.vec_id ASC
           ) AS rank
    FROM member m CROSS JOIN q
  ) WHERE rank <= 3
)
SELECT * FROM answers
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(SUM(vec_id) AS BIGINT),
       CAST(SUM(vec_id * vec_id) AS DOUBLE), CAST(COUNT(*) AS INTEGER)
FROM member
""",
)
def streaming_pipeline_capstone(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Multi-stage streaming pipeline, end to end (streaming/ops.py twins
    composed): JSONL ingest with quarantine → at-least-once dedup against
    persisted index state (left_anti on the ids already indexed, within-
    batch dropDuplicates) → per-batch index append → batched kNN serving
    over the final index. Per-batch work is bounded: one batch-sized JSON
    scan, one anti-join whose right side is the (skinny, id-only) index
    projection, one append of only the NEW rows — no stage rereads
    history beyond the id column, and no state grows except the index
    itself."""
    import json as _json

    root = _tmp_scratch("wvs_capstone_")
    drop = os.path.join(root, "drop")
    os.makedirs(drop)
    index_path = os.path.join(root, "index")

    rows = (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )

    def _line(v: int, emb, f: int) -> str:
        line = _json.dumps({"vec_id": v, "embedding": [float(x) for x in emb]})
        if (v * 7 + f) % 37 == 0:
            line = line[: max(8, len(line) // 2)]
        return line

    for f in range(3):
        with open(os.path.join(drop, f"deliver_{f}.jsonl"), "w", encoding="utf-8") as fh:
            for r in rows:
                v = int(r["vec_id"])
                if v % 3 == f:
                    fh.write(_line(v, r["embedding"], f) + "\n")
                if f == 2 and v % 5 == 0:
                    fh.write(_line(v, r["embedding"], 2) + "\n")

    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<double>")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .json(drop)
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        valid = (
            batch_df.where(
                F.col("vec_id").isNotNull()
                & F.col("embedding").isNotNull()
                & (F.size("embedding") == 64)
            )
            .dropDuplicates(["vec_id"])
        )
        if os.path.exists(index_path):
            seen = sp.read.parquet(index_path).select("vec_id")
            valid = valid.join(seen, "vec_id", "left_anti")
        # pin before appending to the directory the anti-join reads
        valid.localCheckpoint(eager=True).write.mode("append").parquet(index_path)

    q = stream.writeStream.foreachBatch(ingest).trigger(availableNow=True).start()
    q.awaitTermination()

    index = spark.read.parquet(index_path)
    queries = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 4)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    from whatsapp_vectordb_spark.operators.search import topk_batched

    answers = topk_batched(index, queries, k=3, round_to=6)
    checksum = index.agg(
        F.lit(-1).cast("long").alias("query_id"),
        F.sum("vec_id").cast("long").alias("vec_id"),
        F.sum(F.col("vec_id") * F.col("vec_id")).cast("double").alias("score"),
        F.count("*").cast("int").alias("rank"),
    )
    return answers.unionByName(checksum)


@_register("streaming_winnow_index", ORACLES["dedup_winnow_pairs"])
def streaming_winnow_index(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Ingest-time SUBSTRING dedup as a real Structured Streaming
    pipeline — the winnow twin of ``streaming_dedup_index``: the
    augmented corpus replayed file-per-trigger through foreachBatch,
    each micro-batch probing the stored fingerprint inverted index
    (operators/dedup_index.py WinnowDedupIndex.add_batch) and appending
    only its own rows, pair output idempotently keyed by batch_id.
    Union of batch pair sets ≡ one-shot ``winnow_duplicate_pairs``
    under ANY batch split — the oracle IS the batch query's SQL."""
    import shutil

    from whatsapp_vectordb_spark.operators.dedup_index import WinnowDedupIndex

    root = _oracle_scratch("stream_winnow")
    shutil.rmtree(root, ignore_errors=True)
    aug = _augmented_docs(spark, sf_dir)
    src = os.path.join(root, "src")
    aug.repartition(3).write.mode("overwrite").parquet(src)

    idx = WinnowDedupIndex(spark, os.path.join(root, "idx"), k=5, w=4, min_shared=2)
    pairs_dir = os.path.join(root, "pairs")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # pairs_path + batch_key: add_batch persists this batch's pairs
        # durably BEFORE committing the fingerprint append, closing the
        # crash window where a committed append + lost pair output broke
        # the union ≡ one-shot contract (ADVICE r11)
        idx.add_batch(batch_df, pairs_path=pairs_dir, batch_key=batch_id)

    stream = (
        spark.readStream.schema(aug.schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()

    return (
        spark.read.schema("id_a long, id_b long, n_shared long, batch_id long")
        .parquet(pairs_dir)
        .drop("batch_id")
    )


# ==========================================================================
# Round 12: streaming SQ8 index maintenance — the one streaming index row
# with NO persisted-state carve-out. The quantizer (per-dim min/delta) is
# trained ONCE on the bootstrap half and frozen (the production contract:
# immutable between rebuilds); every micro-batch encodes with the frozen
# params and appends ONLY its own codes (map-only, no state reads,
# idempotent per batch dir). Because SQ8 train is analytic, the oracle
# replays the ENTIRE maintained index: bootstrap-half train + all-row
# encode + integer ADC top-10 — bit-for-bit, including the clamping of
# streamed values that fall outside the bootstrap's per-dim range.
# ==========================================================================

_SQ8_STREAM_SQL = """
WITH ex AS (
  SELECT vec_id, unnest(embedding) AS x,
         unnest(range(1, len(embedding) + 1)) AS d
  FROM embeddings
),
stats AS (
  SELECT d, MIN(x::DOUBLE) AS mn, MAX(x::DOUBLE) AS mx
  FROM ex WHERE vec_id < 250 GROUP BY d
),
sd AS (SELECT d, mn,
              CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS dl
       FROM stats),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
wgt AS (
  SELECT s.d, s.mn, s.dl,
         CAST(floor(qe[s.d]::DOUBLE * s.dl * 1000000000 + 0.5) AS BIGINT) AS w
  FROM sd s, q
),
scores AS (
  SELECT e.vec_id,
         SUM(LEAST(255, GREATEST(0,
               CAST(floor((e.x::DOUBLE - g.mn) / g.dl + 0.5) AS BIGINT))) * g.w
         ) AS score_int
  FROM ex e JOIN wgt g ON g.d = e.d
  GROUP BY e.vec_id
)
SELECT vec_id, CAST(score_int AS BIGINT) AS score_int
FROM scores ORDER BY score_int DESC, vec_id LIMIT 10
"""


_IVF_SQ8_STREAM_DIR = _oracle_scratch("stream_ivf_sq8")

# Streaming maintenance of the COMPOSITE index: frozen quantizer
# (persisted centroids — the same single carve-out as
# streaming_ivf_maintenance) + frozen analytic SQ8 scaler (recomputed by
# the oracle from the bootstrap rows) + per-batch assign/encode/append.
# The oracle replays EVERYTHING downstream of the centroid values: the
# integer-exact assignment of the whole corpus (stream ≡ from-scratch),
# the probe-cell ranking for the query by the same quantized metric, the
# bootstrap-trained scaler, the clamped encode of every vector, and the
# pruned integer ADC.
_IVF_SQ8_STREAM_SQL = f"""
WITH cents AS (
  SELECT centroid, cvec FROM read_parquet('{_IVF_SQ8_STREAM_DIR}/centroids/*.parquet')
),
qc AS (
  SELECT centroid, i.i AS pos,
         CAST(round(cvec[i.i + 1]::DOUBLE * 1000000) AS BIGINT) AS q
  FROM cents CROSS JOIN range(0, 64) i(i)
),
qv AS (
  SELECT vec_id, i.i AS pos,
         CAST(round(embedding[i.i + 1]::DOUBLE * 1000000) AS BIGINT) AS q
  FROM embeddings CROSS JOIN range(0, 64) i(i)
),
dd AS (
  SELECT v.vec_id, c.centroid, SUM((v.q - c.q) * (v.q - c.q)) AS dist
  FROM qv v JOIN qc c ON v.pos = c.pos GROUP BY 1, 2
),
a AS (
  SELECT vec_id, centroid FROM (
    SELECT vec_id, centroid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, centroid ASC) AS rn
    FROM dd
  ) WHERE rn = 1
),
pr AS (
  SELECT centroid FROM (
    SELECT centroid, ROW_NUMBER() OVER (ORDER BY dist ASC, centroid ASC) AS r
    FROM dd WHERE vec_id = 0
  ) WHERE r <= 2
),
cand AS (SELECT a.vec_id FROM a JOIN pr ON pr.centroid = a.centroid),
exb AS (
  SELECT vec_id, unnest(embedding) AS x,
         unnest(range(1, len(embedding) + 1)) AS d
  FROM embeddings WHERE vec_id < 250
),
stats AS (SELECT d, MIN(x::DOUBLE) AS mn, MAX(x::DOUBLE) AS mx FROM exb GROUP BY d),
sd AS (SELECT d, mn,
              CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS dl
       FROM stats),
qv8 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
wgt AS (
  SELECT s.d, s.mn, s.dl,
         CAST(floor(qe[s.d]::DOUBLE * s.dl * 1000000000 + 0.5) AS BIGINT) AS w
  FROM sd s, qv8
),
exall AS (
  SELECT vec_id, unnest(embedding) AS x,
         unnest(range(1, len(embedding) + 1)) AS d
  FROM embeddings
),
scores AS (
  SELECT e.vec_id,
         SUM(LEAST(255, GREATEST(0,
               CAST(floor((e.x::DOUBLE - g.mn) / g.dl + 0.5) AS BIGINT))) * g.w
         ) AS score_int
  FROM exall e
  JOIN cand ON cand.vec_id = e.vec_id
  JOIN wgt g ON g.d = e.d
  GROUP BY e.vec_id
)
SELECT vec_id, CAST(score_int AS BIGINT) AS score_int
FROM scores ORDER BY score_int DESC, vec_id LIMIT 10
"""


@_register("streaming_ivf_sq8_index", _IVF_SQ8_STREAM_SQL)
def streaming_ivf_sq8_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSITE index maintained by a real stream: bootstrap fits
    the coarse quantizer (persisted) and the SQ8 scaler (frozen,
    analytic); every micro-batch assign+encode+appends its own codes
    ``partitionBy(centroid)`` under ``batch_id=N`` (map-only, store
    never read during ingest); the query probes 2 cells by the same
    quantized integer metric and runs the ADC over only those cells'
    codes across every batch dir. Stream ≡ from-scratch build, replayed
    by the oracle from the persisted centroids alone."""
    import shutil

    from whatsapp_vectordb_spark.streaming.ops import run_ivf_sq8_index_stream

    shutil.rmtree(_IVF_SQ8_STREAM_DIR, ignore_errors=True)
    return run_ivf_sq8_index_stream(
        spark, os.path.join(sf_dir, "embeddings.parquet"), _IVF_SQ8_STREAM_DIR
    )


@_register("streaming_sq8_index", _SQ8_STREAM_SQL)
def streaming_sq8_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 codes table maintained by a real Structured Streaming
    pipeline: train on the bootstrap half (vec_id < 250, frozen), replay
    the other half file-per-trigger through foreachBatch — each batch a
    map-only encode + append of its own codes — then answer the top-10
    over bootstrap + streamed codes. Streamed values outside the
    bootstrap's per-dim range clamp to 0/255 exactly as the oracle's
    LEAST/GREATEST replays. Scale shape: per-batch cost is O(batch)
    encode + one file append; the stored codes are never re-read during
    ingest (contrast the winnow index, which probes its store — here
    query-time IS the only store read)."""
    import shutil

    from whatsapp_vectordb_spark.operators.ann import (
        sq8_encode,
        sq8_topk,
        sq8_train,
    )

    root = _oracle_scratch("stream_sq8")
    shutil.rmtree(root, ignore_errors=True)
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    boot = emb.where(F.col("vec_id") < 250)
    rest = emb.where(F.col("vec_id") >= 250)
    src = os.path.join(root, "src")
    rest.repartition(3).write.mode("overwrite").parquet(src)

    mins, deltas = sq8_train(boot)
    codes_dir = os.path.join(root, "codes")
    sq8_encode(boot, mins, deltas).write.mode("overwrite").parquet(
        os.path.join(codes_dir, "batch_id=-1")
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        sq8_encode(batch_df, mins, deltas).write.mode("overwrite").parquet(
            os.path.join(codes_dir, f"batch_id={batch_id}")
        )

    stream = (
        spark.readStream.schema(rest.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()

    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    codes = (
        spark.read.schema("vec_id long, sq8_codes array<smallint>, batch_id long")
        .parquet(codes_dir)
        .drop("batch_id")
    )
    return sq8_topk(codes, qvec, deltas, k=10)


_SD_STREAM_DIR = _oracle_scratch("stream_semdedup")

# Streaming semantic dedup: the SemDedupIndex fed by the STREAMING
# ENGINE. Oracle = the same shared greedy-uniqueness certificate as the
# batch row, derived entirely from the persisted post-stream state — so
# it gates the election under the STREAM's batch split, whatever the
# file->trigger assignment turned out to be.
_SD_STREAM_SQL = _semdedup_certificate_sql(_SD_STREAM_DIR, 0.95)


@_register("streaming_semdedup_index", _SD_STREAM_SQL)
def streaming_semdedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time SEMANTIC dedup as a real Structured Streaming
    pipeline: the augmented embedding corpus (exact copies of every
    25th vector) replays file-per-trigger through foreachBatch; the
    quantizer freezes on the first micro-batch, each batch's rows elect
    greedily against the stored representatives, flags land durably
    keyed by batch_id BEFORE the state commit (the index durability
    contract), and survivors append through the atomic batch-dir
    rename. The greedy-uniqueness certificate oracle re-derives every
    flag from the persisted post-stream state — correct under ANY
    batch split the engine produced."""
    import shutil

    from whatsapp_vectordb_spark.operators.dedup_index import SemDedupIndex

    shutil.rmtree(_SD_STREAM_DIR, ignore_errors=True)
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    aug = emb.unionByName(copies)
    src = os.path.join(_SD_STREAM_DIR, "src")
    aug.repartition(3).write.mode("overwrite").parquet(src)

    idx = SemDedupIndex(
        spark, os.path.join(_SD_STREAM_DIR, "idx"), threshold=0.95, n_clusters=8
    )
    flags_dir = os.path.join(_SD_STREAM_DIR, "flags")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        idx.add_batch(batch_df, results_path=flags_dir, batch_key=batch_id)

    stream = (
        spark.readStream.schema(aug.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()

    res = (
        spark.read.schema(
            "vec_id long, centroid int, cent_sim double, kept boolean, batch_id long"
        )
        .parquet(flags_dir)
        .withColumnRenamed("batch_id", "batch_no")
    )
    aug.join(res, "vec_id").select(
        "vec_id", "embedding", "batch_no", "centroid", "cent_sim", "kept"
    ).write.mode("overwrite").parquet(os.path.join(_SD_STREAM_DIR, "cells"))
    cents = idx._load_centroids()
    local_df(spark, 
        [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)],
        "centroid int, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(_SD_STREAM_DIR, "cents")
    )
    return res.select("vec_id", "batch_no", "centroid", "cent_sim", "kept")


_IVFPQ_STREAM_DIR = _oracle_scratch("stream_ivfpq")


def _ivfpq_stream_sql() -> str:
    from whatsapp_vectordb_spark.harness.ann import _ivfpq_ingest_sql

    return _ivfpq_ingest_sql(_IVFPQ_STREAM_DIR)


@_register("streaming_ivfpq_index", _ivfpq_stream_sql())
def streaming_ivfpq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MEMORY-BOUND persisted tier maintained by a real stream (r15
    — the PQ twin of ``streaming_ivf_sq8_index``, completing streaming
    maintenance for both persisted artifacts): the augmented corpus
    (exact copies of every 25th vector) replays file-per-trigger through
    foreachBatch; the FIRST micro-batch builds the index (coarse
    centroids + residual codebooks frozen in meta.json — the
    freeze-on-first-batch pattern the SemDedupIndex stream uses); every
    later batch ingests through ``add_batch(path=...)``'s atomic
    ``batches/<uuid>`` commit, map-only, store never read during ingest.
    The query then loads base ∪ batch layouts and serves the exact
    top-10; the oracle replays the LUT-ADC shortlist from the persisted
    codes + LUTs (the house PQ-oracle contract) and re-ranks exactly —
    whatever batch split the engine chose, a lost or doubled commit
    breaks the hash."""
    import shutil

    from whatsapp_vectordb_spark.harness.ann import (
        _IVFPQ_INGEST_M,
        _persist_ivfpq_probe_luts,
    )
    from whatsapp_vectordb_spark.operators.ann import IvfPqIndex

    shutil.rmtree(_IVFPQ_STREAM_DIR, ignore_errors=True)
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    aug = emb.unionByName(copies)
    src = os.path.join(_IVFPQ_STREAM_DIR, "src")
    aug.repartition(3).write.mode("overwrite").parquet(src)
    idx_meta = os.path.join(_IVFPQ_STREAM_DIR, "meta.json")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if not os.path.exists(idx_meta):
            # m must be the SHARED constant — the oracle SQL's
            # range(0,m) is baked from it, and a literal here could
            # silently diverge (r15 review finding)
            IvfPqIndex.build(
                batch_df, n_centroids=8, m=_IVFPQ_INGEST_M, ksub=16,
                sample_rows=500,
            ).save(_IVFPQ_STREAM_DIR)
        else:
            IvfPqIndex.load(spark, _IVFPQ_STREAM_DIR).add_batch(
                batch_df, path=_IVFPQ_STREAM_DIR
            )

    stream = (
        spark.readStream.schema(aug.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()

    # the shared oracle reads batches/*/codes unconditionally — if the
    # engine ever coalesced every src file into the FIRST trigger (so
    # only build() ran and no batch dir exists), fail HERE with the
    # cause rather than as a confusing oracle read error
    bdir = os.path.join(_IVFPQ_STREAM_DIR, "batches")
    if not (os.path.isdir(bdir) and os.listdir(bdir)):
        raise RuntimeError(
            "streaming_ivfpq_index: the stream produced no add_batch "
            "commits (every row landed in the bootstrap trigger) — the "
            "file-per-trigger split did not happen; oracle cannot replay"
        )
    reloaded = IvfPqIndex.load(spark, _IVFPQ_STREAM_DIR)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    _persist_ivfpq_probe_luts(spark, reloaded, qvec, _IVFPQ_STREAM_DIR)
    return reloaded.search(aug, qvec, k=10, nprobe=2, shortlist=50)


_SQ8_CDC_DIR = _oracle_scratch("stream_sq8_cdc")


def _sq8_cdc_sql() -> str:
    from whatsapp_vectordb_spark.harness.ann import _ivf_sq8_mutate_sql

    return _ivf_sq8_mutate_sql(_SQ8_CDC_DIR)


@_register("streaming_ivf_sq8_cdc", _sq8_cdc_sql())
def streaming_ivf_sq8_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC maintenance of the persisted serving artifact by a REAL
    stream: a change feed of upsert/delete events (op='u'/'d') replays
    file-per-trigger through foreachBatch, each trigger applying its
    deletes and upserts to the SAVED index through the atomic
    ``batches/<seq>_<uuid>`` commits — the production pattern for a
    vector index trailing an OLTP table. Event groups touch disjoint id
    sets (clone upserts, deletes, re-add upserts, fresh inserts), so
    the final state is trigger-order independent; the oracle replays
    visibility from the committed layouts ALONE (the shared mutation
    SQL), so it gates the served top-10 under ANY file→trigger split:
    a lost tombstone, a half-applied upsert, or a wrong seq comparison
    breaks the hash."""
    import shutil

    from whatsapp_vectordb_spark.harness.ann import _IVFSQ8_NPROBE, _KM_K
    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index

    shutil.rmtree(_SQ8_CDC_DIR, ignore_errors=True)
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    IvfSq8Index.build(emb, n_centroids=_KM_K).save(
        _SQ8_CDC_DIR, store_vectors=True
    )
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    qlit = F.lit(qvec).cast("array<float>")
    no_vec = F.lit(None).cast("array<float>")
    m10 = F.col("vec_id") % 10 == 3
    m20 = F.col("vec_id") % 20 == 3
    m40 = F.col("vec_id") % 40 == 3

    src = os.path.join(_SQ8_CDC_DIR, "src")
    groups = [
        # clone upserts on never-deleted ids
        emb.where(m10 & ~m20).select(
            "vec_id", qlit.alias("embedding"), F.lit("u").alias("op")
        ),
        # deletes, never re-added
        emb.where(m20 & ~m40).select(
            "vec_id", no_vec.alias("embedding"), F.lit("d").alias("op")
        ),
        # clone upserts on a third disjoint set
        emb.where(m40).select(
            "vec_id", qlit.alias("embedding"), F.lit("u").alias("op")
        ),
        # fresh inserts
        emb.where(F.col("vec_id") % 25 == 0).select(
            (F.col("vec_id") + 100_000).alias("vec_id"),
            F.col("embedding"),
            F.lit("u").alias("op"),
        ),
    ]
    for g in groups:
        g.coalesce(1).write.mode("append").parquet(src)

    # Each trigger loads the committed tip: with the layout schemas
    # recorded in meta.json a load runs no Spark job, and a fresh handle
    # keeps the plan one trigger deep instead of growing with every
    # trigger's in-memory unions.
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # Intra-batch ordering (ADVICE r15): deletes apply before
        # upserts WITHIN a microbatch, which is correct here only
        # because the event groups above touch DISJOINT id sets per
        # trigger. A general CDC verb carrying delete+upsert for one id
        # in one trigger must order by a per-event sequence column and
        # commit per-op in feed order — that verb EXISTS:
        # `operators.ann.apply_cdc_events` (the production pattern,
        # gated by `streaming_ivf_sq8_cdc_ordered`). This legacy row
        # keeps the simpler deletes-then-upserts split ONLY because its
        # groups are id-disjoint; do not copy this handler for a feed
        # without that guarantee — use apply_cdc_events.
        if batch_df.isEmpty():
            return
        idx = IvfSq8Index.load(spark, _SQ8_CDC_DIR)
        # the verbs pin their input and no-op on empty themselves, so
        # pre-checking emptiness here paid a redundant job per op per
        # trigger (r17)
        idx.delete(batch_df.where(F.col("op") == "d").select("vec_id"),
                   path=_SQ8_CDC_DIR)
        idx.upsert(
            batch_df.where(F.col("op") == "u").select("vec_id", "embedding"),
            path=_SQ8_CDC_DIR,
        )

    schema = "vec_id long, embedding array<float>, op string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()

    # the shared oracle reads batches/*/deletes and batches/*/codes — if
    # the engine coalesced everything into one trigger those still
    # exist, but if it produced NO triggers, fail here with the cause
    bdir = os.path.join(_SQ8_CDC_DIR, "batches")
    committed = os.listdir(bdir) if os.path.isdir(bdir) else []
    if not committed or not any(
        os.path.isdir(os.path.join(bdir, b, "deletes")) for b in committed
    ):
        raise RuntimeError(
            "streaming_ivf_sq8_cdc: the stream committed no tombstones — "
            "the change feed did not apply; oracle cannot replay"
        )
    reloaded = IvfSq8Index.load(spark, _SQ8_CDC_DIR)
    cells = reloaded.probe_centroid_ids(qvec, nprobe=_IVFSQ8_NPROBE)
    local_df(spark, 
        [(int(c),) for c in cells], "centroid bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(_SQ8_CDC_DIR, "probe")
    )
    return reloaded.search(
        None, qvec, k=10, nprobe=_IVFSQ8_NPROBE, shortlist=50
    )


_IVFPQ_CDC_DIR = _oracle_scratch("stream_ivfpq_cdc")


def _ivfpq_cdc_sql() -> str:
    from whatsapp_vectordb_spark.harness.ann import _ivfpq_mutate_sql

    return _ivfpq_mutate_sql(_IVFPQ_CDC_DIR)


@_register("streaming_ivfpq_cdc", _ivfpq_cdc_sql())
def streaming_ivfpq_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC maintenance of the MEMORY-bound persisted tier — the
    ``streaming_ivf_sq8_cdc`` twin over ``IvfPqIndex``, completing the
    mutate/ingest/CDC/filtered/batched-rerank lifecycle symmetry
    between the two persisted artifacts (VERDICT r15 #6). A change feed
    of upsert/delete events (op='u'/'d') replays file-per-trigger
    through foreachBatch; each trigger applies deletes then upserts
    through atomic ``batches/<seq>_<uuid>`` commits (event groups touch
    DISJOINT id sets per trigger — the documented intra-batch ordering
    constraint). The oracle replays visibility from the committed
    layouts ALONE (shared ``_ivfpq_mutate_sql``), gating the served
    top-10 under ANY file→trigger split."""
    import shutil

    from whatsapp_vectordb_spark.harness.ann import (
        _IVFPQ_INGEST_M,
        _persist_ivfpq_probe_luts,
    )
    from whatsapp_vectordb_spark.operators.ann import IvfPqIndex

    shutil.rmtree(_IVFPQ_CDC_DIR, ignore_errors=True)
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    IvfPqIndex.build(
        emb, n_centroids=8, m=_IVFPQ_INGEST_M, ksub=16, sample_rows=500
    ).save(_IVFPQ_CDC_DIR, store_vectors=True)
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    qlit = F.lit(qvec).cast("array<float>")
    no_vec = F.lit(None).cast("array<float>")
    m10 = F.col("vec_id") % 10 == 3
    m20 = F.col("vec_id") % 20 == 3
    m40 = F.col("vec_id") % 40 == 3

    src = os.path.join(_IVFPQ_CDC_DIR, "src")
    groups = [
        # clone upserts on never-deleted ids
        emb.where(m10 & ~m20).select(
            "vec_id", qlit.alias("embedding"), F.lit("u").alias("op")
        ),
        # deletes, never re-added
        emb.where(m20 & ~m40).select(
            "vec_id", no_vec.alias("embedding"), F.lit("d").alias("op")
        ),
        # clone upserts on a third disjoint set
        emb.where(m40).select(
            "vec_id", qlit.alias("embedding"), F.lit("u").alias("op")
        ),
        # fresh inserts
        emb.where(F.col("vec_id") % 25 == 0).select(
            (F.col("vec_id") + 100_000).alias("vec_id"),
            F.col("embedding"),
            F.lit("u").alias("op"),
        ),
    ]
    for g in groups:
        g.coalesce(1).write.mode("append").parquet(src)

    # a fresh tip handle per trigger — see the SQ8 twin's note
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # deletes before upserts per trigger — safe because the groups
        # above are id-disjoint (see streaming_ivf_sq8_cdc's note)
        if batch_df.isEmpty():
            return
        idx = IvfPqIndex.load(spark, _IVFPQ_CDC_DIR)
        # verbs no-op on empty input themselves — see the SQ8 twin (r17)
        idx.delete(batch_df.where(F.col("op") == "d").select("vec_id"),
                   path=_IVFPQ_CDC_DIR)
        idx.upsert(
            batch_df.where(F.col("op") == "u").select("vec_id", "embedding"),
            path=_IVFPQ_CDC_DIR,
        )

    schema = "vec_id long, embedding array<float>, op string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()

    bdir = os.path.join(_IVFPQ_CDC_DIR, "batches")
    committed = os.listdir(bdir) if os.path.isdir(bdir) else []
    if not committed or not any(
        os.path.isdir(os.path.join(bdir, b, "deletes")) for b in committed
    ):
        raise RuntimeError(
            "streaming_ivfpq_cdc: the stream committed no tombstones — "
            "the change feed did not apply; oracle cannot replay"
        )
    reloaded = IvfPqIndex.load(spark, _IVFPQ_CDC_DIR)
    _persist_ivfpq_probe_luts(spark, reloaded, qvec, _IVFPQ_CDC_DIR)
    return reloaded.search(None, qvec, k=10, nprobe=2, shortlist=50)


_SQ8_CDC_ORD_DIR = _oracle_scratch("stream_sq8_cdc_ordered")


def _sq8_cdc_ordered_sql() -> str:
    from whatsapp_vectordb_spark.harness.ann import _ivf_sq8_mutate_sql

    return _ivf_sq8_mutate_sql(_SQ8_CDC_ORD_DIR)


@_register("streaming_ivf_sq8_cdc_ordered", _sq8_cdc_ordered_sql())
def streaming_ivf_sq8_cdc_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-PRESERVING CDC (the ADVICE r15 verb, `apply_cdc_events`):
    unlike `streaming_ivf_sq8_cdc` — whose event groups are id-disjoint
    per trigger so deletes-before-upserts is safe — this feed carries
    delete AND upsert for the SAME ids inside one microbatch, with the
    outcome decided by the per-event ``seq`` column:

      ids %10==3: upsert clone (seq 1) then DELETE (seq 2) → net gone;
      ids %10==7: DELETE (seq 3) then upsert clone (seq 4) → net clone;

    rows are written SHUFFLED inside the feed file, so only seq order
    can produce the right answer. `apply_cdc_events` sorts the batch by
    seq, merges maximal same-op runs, and commits each run atomically —
    layout commit seqs then reproduce the feed's per-id
    last-writer-wins under the strictly-older mask. The oracle replays
    visibility from the committed layouts ALONE (shared mutation SQL):
    a wrong op order, a lost run, or a convention-based resolution
    breaks the hash."""
    import shutil

    from whatsapp_vectordb_spark.harness.ann import _IVFSQ8_NPROBE, _KM_K
    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        apply_cdc_events,
    )

    shutil.rmtree(_SQ8_CDC_ORD_DIR, ignore_errors=True)
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    IvfSq8Index.build(emb, n_centroids=_KM_K).save(
        _SQ8_CDC_ORD_DIR, store_vectors=True
    )
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    qlit = F.lit(qvec).cast("array<float>")
    no_vec = F.lit(None).cast("array<float>")
    m3 = F.col("vec_id") % 10 == 3
    m7 = F.col("vec_id") % 10 == 7

    src = os.path.join(_SQ8_CDC_ORD_DIR, "src")
    feed = (
        emb.where(m3)
        .select("vec_id", qlit.alias("embedding"), F.lit("u").alias("op"),
                F.lit(1).alias("seq"))
        .unionByName(
            emb.where(m3).select(
                "vec_id", no_vec.alias("embedding"), F.lit("d").alias("op"),
                F.lit(2).alias("seq"),
            )
        )
        .unionByName(
            emb.where(m7).select(
                "vec_id", no_vec.alias("embedding"), F.lit("d").alias("op"),
                F.lit(3).alias("seq"),
            )
        )
        .unionByName(
            emb.where(m7).select(
                "vec_id", qlit.alias("embedding"), F.lit("u").alias("op"),
                F.lit(4).alias("seq"),
            )
        )
        # shuffle the rows — the file's physical order must not matter
        .orderBy(F.xxhash64("vec_id", "seq"))
    )
    feed.coalesce(1).write.mode("overwrite").parquet(src)

    # a fresh tip handle per trigger — see streaming_ivf_sq8_cdc's note
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        idx = IvfSq8Index.load(spark, _SQ8_CDC_ORD_DIR)
        apply_cdc_events(idx, batch_df, _SQ8_CDC_ORD_DIR)

    schema = "vec_id long, embedding array<float>, op string, seq long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()

    bdir = os.path.join(_SQ8_CDC_ORD_DIR, "batches")
    committed = os.listdir(bdir) if os.path.isdir(bdir) else []
    if not committed or not any(
        os.path.isdir(os.path.join(bdir, b, "deletes")) for b in committed
    ):
        raise RuntimeError(
            "streaming_ivf_sq8_cdc_ordered: no tombstone commits — the "
            "ordered feed did not apply; oracle cannot replay"
        )
    reloaded = IvfSq8Index.load(spark, _SQ8_CDC_ORD_DIR)
    cells = reloaded.probe_centroid_ids(qvec, nprobe=_IVFSQ8_NPROBE)
    local_df(spark, 
        [(int(c),) for c in cells], "centroid bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(_SQ8_CDC_ORD_DIR, "probe")
    )
    return reloaded.search(
        None, qvec, k=10, nprobe=_IVFSQ8_NPROBE, shortlist=50
    )


_SQ8_CDC_TICK_DIR = _oracle_scratch("stream_sq8_cdc_tick")


def _sq8_cdc_tick_sql() -> str:
    from whatsapp_vectordb_spark.harness.ann import _sq8_semantic_serve_sql

    # the change feed's net algebra (same four groups as
    # streaming_ivf_sq8_cdc) PLUS the fresh inserts — expressed from
    # first principles because the interleaved ticks fold the commit log
    # away as the stream runs, leaving nothing for a log replay to read
    vis = """
vis AS (
  SELECT e.vec_id,
         CASE WHEN (e.vec_id % 10 = 3 AND e.vec_id % 20 <> 3)
                   OR e.vec_id % 40 = 3
              THEN q0.qe ELSE e.embedding END AS embedding
  FROM embeddings e
  CROSS JOIN (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q0
  WHERE NOT (e.vec_id % 20 = 3 AND e.vec_id % 40 <> 3)
  UNION ALL
  SELECT e.vec_id + 100000 AS vec_id, e.embedding
  FROM embeddings e WHERE e.vec_id % 25 = 0
)"""
    return _sq8_semantic_serve_sql(vis)


@_register("streaming_ivf_sq8_cdc_with_tick", _sq8_cdc_tick_sql())
def streaming_ivf_sq8_cdc_with_tick(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CDC replay with the COMPACTOR RUNNING IN THE LOOP — the full
    production maintenance posture in one row: the same change feed as
    ``streaming_ivf_sq8_cdc`` replays file-per-trigger, and after every
    trigger's commits a zero-threshold ``maintenance_tick`` folds the
    layout (the bounded O(touched-cells) fold), so serving state
    interleaves append commits with physical compactions all the way
    through the stream. The final layout holds NO commit log at all —
    every mutation has been folded into the base — so the oracle gates
    the served top-10 from FIRST PRINCIPLES: the feed's net visibility
    algebra recomputed over the raw table with the frozen-scaler encode
    replay. A fold that races a commit, drops a tombstone mid-stream,
    or resurrects a folded-away delete breaks the hash."""
    import shutil

    from whatsapp_vectordb_spark.harness.ann import _KM_K
    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        layout_mutation_stats,
        maintenance_tick,
    )

    shutil.rmtree(_SQ8_CDC_TICK_DIR, ignore_errors=True)
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    IvfSq8Index.build(emb, n_centroids=_KM_K).save(
        _SQ8_CDC_TICK_DIR, store_vectors=True
    )
    qvec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    qlit = F.lit(qvec).cast("array<float>")
    no_vec = F.lit(None).cast("array<float>")
    m10 = F.col("vec_id") % 10 == 3
    m20 = F.col("vec_id") % 20 == 3
    m40 = F.col("vec_id") % 40 == 3

    src = os.path.join(_SQ8_CDC_TICK_DIR, "src")
    groups = [
        emb.where(m10 & ~m20).select(
            "vec_id", qlit.alias("embedding"), F.lit("u").alias("op")
        ),
        emb.where(m20 & ~m40).select(
            "vec_id", no_vec.alias("embedding"), F.lit("d").alias("op")
        ),
        emb.where(m40).select(
            "vec_id", qlit.alias("embedding"), F.lit("u").alias("op")
        ),
        emb.where(F.col("vec_id") % 25 == 0).select(
            (F.col("vec_id") + 100_000).alias("vec_id"),
            F.col("embedding"),
            F.lit("u").alias("op"),
        ),
    ]
    for g in groups:
        g.coalesce(1).write.mode("append").parquet(src)

    folds = {"n": 0}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # id-disjoint groups per trigger (streaming_ivf_sq8_cdc's note)
        if batch_df.isEmpty():
            return
        idx = IvfSq8Index.load(spark, _SQ8_CDC_TICK_DIR)
        dels = batch_df.where(F.col("op") == "d").select("vec_id")
        if not dels.isEmpty():
            idx.delete(dels, path=_SQ8_CDC_TICK_DIR)
        ups = batch_df.where(F.col("op") == "u").select("vec_id", "embedding")
        if not ups.isEmpty():
            idx.upsert(ups, path=_SQ8_CDC_TICK_DIR)
        # the compactor in the loop: fold EVERYTHING this trigger wrote,
        # retaining ONE pre-fold snapshot per tick (keep_epochs=1, r17) —
        # a per-trigger compactor without a retention budget grows one
        # retained version per trigger forever
        tick = maintenance_tick(
            IvfSq8Index, spark, _SQ8_CDC_TICK_DIR,
            max_data_commits=0, max_tombstone_commits=0, keep_epochs=1,
        )
        if tick["folded"]:
            folds["n"] += 1

    schema = "vec_id long, embedding array<float>, op string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()

    stats = layout_mutation_stats(_SQ8_CDC_TICK_DIR)
    if folds["n"] == 0 or stats["batch_commits"] != 0:
        raise RuntimeError(
            f"compactor never interleaved: folds={folds['n']} stats={stats}"
        )
    reloaded = IvfSq8Index.load(spark, _SQ8_CDC_TICK_DIR)
    return reloaded.search(None, qvec, k=10, nprobe=_KM_K, shortlist=50)
