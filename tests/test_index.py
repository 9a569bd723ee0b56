from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from whatsapp_vectordb_spark.index import VectorIndex


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "vdb")


def _batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "id string, embedding array<float>, text string, namespace string, _ingest_seq long",
    )


def test_create_or_get_idempotent(spark, root):
    ix = VectorIndex.create_or_get(spark, root, "chat", 4, "cosine")
    again = VectorIndex.create_or_get(spark, root, "chat", 999, "euclidean")
    assert (again.dimension, again.metric) == (4, "cosine")  # existing wins
    assert VectorIndex.exists(spark, root, "chat")
    assert not VectorIndex.exists(spark, root, "nope")
    assert [r["name"] for r in VectorIndex.list_indexes(spark, root)] == ["chat"]


def test_upsert_replaces_by_id(spark, root):
    ix = VectorIndex.create_or_get(spark, root, "chat", 2)
    ix.upsert(_batch(spark, [("a", [1.0, 0.0], "first", "ns1", 1), ("b", [0.0, 1.0], "b", "ns1", 2)]))
    assert ix.read().count() == 2
    ix.upsert(_batch(spark, [("a", [0.5, 0.5], "second", "ns1", 3), ("c", [1.0, 1.0], "c", "ns2", 4)]))
    rows = {r["id"]: r for r in ix.read().collect()}
    assert len(rows) == 3
    assert rows["a"]["text"] == "second"  # replaced, not duplicated
    assert rows["a"]["embedding"] == pytest.approx([0.5, 0.5])


def test_upsert_idempotent(spark, root):
    ix = VectorIndex.create_or_get(spark, root, "idem", 2)
    batch = _batch(spark, [("a", [1.0, 0.0], "a", None, 1), ("b", [0.0, 1.0], "b", None, 2)])
    ix.upsert(batch)
    ix.upsert(batch)
    assert ix.read().count() == 2


def test_fetch_and_stats(spark, root):
    ix = VectorIndex.create_or_get(spark, root, "chat", 2)
    ix.upsert(
        _batch(
            spark,
            [("a", [1.0, 0.0], "a", "ns1", 1), ("b", [0.0, 1.0], "b", "ns1", 2), ("c", [1.0, 1.0], "c", "ns2", 3)],
        )
    )
    fetched = ix.fetch(["a", "c"]).collect()
    assert sorted(r["id"] for r in fetched) == ["a", "c"]
    stats = {r["namespace"]: r["vector_count"] for r in ix.stats().collect()}
    assert stats == {"ns1": 2, "ns2": 1}


def test_end_to_end_text_query(spark, root):
    ix = VectorIndex.create_or_get(spark, root, "e2e", 64)
    texts = [
        ("m1", "let us meet at the coffee shop tomorrow morning"),
        ("m2", "the deployment pipeline failed again with a timeout error"),
        ("m3", "meet me at the coffee place tomorrow before work"),
    ]
    from whatsapp_vectordb_spark.embedder import with_embedding

    batch = with_embedding(
        spark.createDataFrame(texts, "id string, text string"), "text", "embedding"
    ).withColumn("_ingest_seq", F.monotonically_increasing_id())
    ix.upsert(batch)
    top = ix.query("coffee tomorrow morning meet", k=2).collect()
    assert {r["id"] for r in top} == {"m1", "m3"}


def test_namespace_partition_pruning(spark, tmp_path, embeddings):
    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.index import VectorIndex

    idx = VectorIndex.create_or_get(spark, str(tmp_path), "pruned", dimension=64)
    records = embeddings.limit(100).select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("id"),
        "embedding",
        F.concat(F.lit("ns"), (F.col("vec_id") % 4).cast("string")).alias("namespace"),
    )
    idx.upsert(records)
    one_ns = idx.read().where(F.col("namespace") == "ns1")
    jvm = spark._jvm
    em = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    p = one_ns._jdf.queryExecution().explainString(em)
    assert "PartitionFilters" in p and "namespace" in p.split("PartitionFilters")[1][:120]
    assert one_ns.count() == 25


def test_upsert_rejects_wrong_dimension(spark, tmp_path, embeddings):
    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.index import VectorIndex

    idx = VectorIndex.create_or_get(spark, str(tmp_path), "dim-check", dimension=32)
    bad = embeddings.limit(3).select(
        F.col("vec_id").cast("string").alias("id"), "embedding"  # 64-dim into a 32-dim index
    )
    with pytest.raises(ValueError, match="dimension"):
        idx.upsert(bad)


def test_bucketed_upsert_rewrites_only_touched_buckets(spark, tmp_path, embeddings):
    import os

    from whatsapp_vectordb_spark.index import VectorIndex

    idx = VectorIndex.create_or_get(
        spark, str(tmp_path), "bucketed", dimension=64, num_id_buckets=8
    )
    assert idx.num_id_buckets == 8
    records = embeddings.limit(200).select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("id"),
        "embedding",
        F.lit("orig").alias("text"),
    )
    idx.upsert(records)
    assert idx.read().count() == 200

    # snapshot per-bucket file mtimes
    def bucket_mtimes():
        out = {}
        for d in os.listdir(idx.path):
            if d.startswith("_bucket="):
                full = os.path.join(idx.path, d)
                out[d] = max(os.path.getmtime(os.path.join(full, f)) for f in os.listdir(full))
        return out

    before = bucket_mtimes()
    assert len(before) > 1

    # second upsert touches exactly one id
    one = records.where(F.col("id") == "v7").withColumn("text", F.lit("updated"))
    idx.upsert(one.withColumn("_ingest_seq", F.lit(2)))
    after = bucket_mtimes()

    changed = [d for d in before if before[d] != after[d]]
    assert len(changed) == 1  # only v7's bucket rewritten
    assert idx.read().count() == 200  # replace, not append
    got = idx.fetch(["v7"]).collect()
    assert len(got) == 1 and got[0]["text"] == "updated"


def test_bucketed_fetch_prunes_partitions(spark, tmp_path, embeddings):
    from whatsapp_vectordb_spark.index import VectorIndex

    idx = VectorIndex.create_or_get(
        spark, str(tmp_path), "bucketed-fetch", dimension=64, num_id_buckets=8
    )
    records = embeddings.limit(100).select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("id"), "embedding"
    )
    idx.upsert(records)
    got = idx.fetch(["v3", "v4"])
    em = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    p = got._jdf.queryExecution().explainString(em)
    assert "PartitionFilters" in p and "_bucket" in p.split("PartitionFilters")[1][:160]
    assert {r["id"] for r in got.collect()} == {"v3", "v4"}


def test_compact_merges_accumulated_upsert_files(spark, tmp_path, embeddings):
    import os

    from whatsapp_vectordb_spark.index import VectorIndex

    idx = VectorIndex.create_or_get(
        spark, str(tmp_path), "compactable", dimension=64, num_id_buckets=4
    )
    base = embeddings.limit(40).select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("id"), "embedding"
    )
    idx.upsert(base.withColumn("text", F.lit("gen2")))
    # upserts rewrite whole partitions (always 1 file generation); the
    # small-file case comes from append-mode sinks (e.g. a streaming
    # ingest) — simulate two appended micro-batch files in one bucket
    bucket_dir = next(
        os.path.join(idx.path, d) for d in sorted(os.listdir(idx.path)) if d.startswith("_bucket=")
    )
    appended = spark.read.parquet(bucket_dir)
    for _ in range(2):
        appended.coalesce(1).write.mode("append").parquet(bucket_dir)
    before = idx.read().count()

    def max_files():
        counts = []
        for d in os.listdir(idx.path):
            if d.startswith("_bucket="):
                full = os.path.join(idx.path, d)
                counts.append(sum(1 for f in os.listdir(full) if f.endswith(".parquet")))
        return max(counts)

    assert max_files() > 1
    n = idx.compact()
    assert n == 1  # only the crowded bucket rewritten
    assert max_files() == 1
    assert idx.read().count() == before  # content preserved (incl. appended rows)
    assert idx.fetch(["v3"]).head()["text"] == "gen2"


def test_bucketed_delete_rewrites_only_touched_buckets(spark, embeddings, tmp_path):
    from whatsapp_vectordb_spark.index import VectorIndex

    idx = VectorIndex.create_or_get(
        spark, str(tmp_path), "del-bounded", dimension=64, num_id_buckets=8
    )
    records = embeddings.select(
        F.col("vec_id").cast("string").alias("id"), "embedding"
    )
    idx.upsert(records.withColumn("_ingest_seq", F.lit(1)))
    # choose victims that all live in ONE bucket so 7 buckets stay untouched
    b = idx._bucket_of(F.col("id"), 8)
    with_b = records.select("id", b.alias("_b"))
    target = with_b.where(F.col("_b") == 3).limit(5).collect()
    assert target
    import os, time
    mtimes = {}
    for d in os.listdir(idx.path):
        if d.startswith("_bucket="):
            p = os.path.join(idx.path, d)
            mtimes[d] = max(os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p))
    time.sleep(1.1)
    n = idx.delete([r["id"] for r in target])
    assert n == len(target)
    for d in os.listdir(idx.path):
        if d.startswith("_bucket=") and d != "_bucket=3":
            p = os.path.join(idx.path, d)
            mt = max(os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p))
            assert mt == mtimes[d], f"{d} was rewritten"
    # deleted ids are gone; everything else survived
    remaining = {r["id"] for r in idx.read().select("id").collect()}
    assert not ({r["id"] for r in target} & remaining)
    assert len(remaining) == records.count() - n


def test_bucketed_delete_removes_emptied_bucket(spark, embeddings, tmp_path):
    from whatsapp_vectordb_spark.index import VectorIndex

    idx = VectorIndex.create_or_get(
        spark, str(tmp_path), "del-empty", dimension=64, num_id_buckets=4
    )
    records = embeddings.select(
        F.col("vec_id").cast("string").alias("id"), "embedding"
    )
    idx.upsert(records.withColumn("_ingest_seq", F.lit(1)))
    b = idx._bucket_of(F.col("id"), 4)
    bucket0 = [r["id"] for r in records.select("id", b.alias("_b")).where(F.col("_b") == 0).collect()]
    assert bucket0
    n = idx.delete(bucket0)
    assert n == len(bucket0)
    import os
    assert not os.path.exists(os.path.join(idx.path, "_bucket=0"))
    assert idx.read().count() == records.count() - n


class TestDeleteWhere:
    def test_filtered_delete_keeps_null_predicate_rows(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from whatsapp_vectordb_spark.index import VectorIndex

        idx = VectorIndex.create_or_get(
            spark, str(tmp_path), "ttl", dimension=4, num_id_buckets=4
        )
        rows = [
            (str(i), [float(i)] * 4, None, {"ttl": str(i % 3)} if i % 5 else None, "")
            for i in range(40)
        ]
        batch = spark.createDataFrame(
            rows, "id string, embedding array<float>, text string, metadata map<string,string>, namespace string"
        )
        idx.upsert(batch)
        n = idx.delete_where(F.element_at("metadata", "ttl").cast("int") == 2)
        # i%5==0 rows have NULL metadata → predicate NULL → KEPT
        doomed = {i for i in range(40) if i % 5 != 0 and i % 3 == 2}
        assert n == len(doomed)
        left = {int(r["id"]) for r in idx.read().select("id").collect()}
        assert left == set(range(40)) - doomed

    def test_no_match_rewrites_nothing(self, spark, tmp_path):
        import os

        from pyspark.sql import functions as F

        from whatsapp_vectordb_spark.index import VectorIndex

        idx = VectorIndex.create_or_get(
            spark, str(tmp_path), "ttl2", dimension=4, num_id_buckets=4
        )
        batch = spark.createDataFrame(
            [(str(i), [0.0] * 4, None, {"k": "v"}, "") for i in range(10)],
            "id string, embedding array<float>, text string, metadata map<string,string>, namespace string",
        )
        idx.upsert(batch)
        mtimes = {
            d: os.path.getmtime(os.path.join(idx.path, d))
            for d in os.listdir(idx.path)
            if d.startswith("_bucket=")
        }
        assert idx.delete_where(F.element_at("metadata", "k") == "absent") == 0
        after = {
            d: os.path.getmtime(os.path.join(idx.path, d))
            for d in os.listdir(idx.path)
            if d.startswith("_bucket=")
        }
        assert after == mtimes  # zero matches → zero rewrites


def test_vector_index_mutations_hold_the_writer_lease(spark, tmp_path):
    """r17: the Pinecone-analog index's mutation verbs run under the
    house writer lease (sibling lock file — the unbucketed upsert swaps
    the data dir wholesale, so the lock cannot live inside it): a
    contending writer gets a loud error instead of silently losing rows
    to a concurrent dynamic-partition overwrite."""
    import threading

    import pytest
    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.index import VectorIndex
    from whatsapp_vectordb_spark.commitlog import (
        ConcurrentWriterError,
        _writer_lease,
    )

    idx = VectorIndex.create_or_get(
        spark, str(tmp_path), "lease_idx", dimension=4, num_id_buckets=4
    )
    batch = spark.createDataFrame(
        [(f"vector_id_{i}", [float(i)] * 4) for i in range(8)],
        "id string, embedding array<float>",
    )
    idx.upsert(batch)
    assert not os.path.exists(idx.path + ".writer.lock")  # released

    entered, release = threading.Event(), threading.Event()

    def holder():
        with _writer_lease(
            idx.path, "other", lock_path=idx.path + ".writer.lock"
        ):
            entered.set()
            release.wait(timeout=30)

    t = threading.Thread(target=holder)
    t.start()
    assert entered.wait(timeout=30)
    with pytest.raises(ConcurrentWriterError):
        idx.delete(["vector_id_3"])
    release.set()
    t.join(timeout=30)
    assert idx.delete(["vector_id_3"]) == 1
    assert idx.read().count() == 7


def test_local_df_semantics_match_row_path_on_edge_values(spark):
    """r17-verdict latent edge + ADVICE r17: local_df's Arrow fast path
    must match the row path's semantics — None stays null (not NaN),
    a None in a bare-names int column stays LONG-with-null (not DOUBLE),
    and a float NaN stays NaN (not null)."""
    import math

    from whatsapp_vectordb_spark.session import local_df

    # None -> null through an explicit DDL schema (fast path)
    rows = local_df(
        spark, [(1, [0.5, None]), (2, None)], "id long, xs array<double>"
    ).orderBy("id").collect()
    assert rows[0]["xs"][1] is None and rows[1]["xs"] is None

    # bare-names schema + None: must infer LONG with a null, like the
    # row path (the pandas detour would have inferred DOUBLE)
    df = local_df(spark, [(1, 10), (2, None)], ["id", "v"])
    assert dict(df.dtypes)["v"] == "bigint"
    assert {r["v"] for r in df.collect()} == {10, None}

    # float NaN survives as NaN (the row path's semantics), never null
    out = local_df(
        spark, [(1, float("nan"))], "id long, x double"
    ).collect()[0]
    assert out["x"] is not None and math.isnan(out["x"])

    # ... at any nesting depth: the Arrow detour folds a NaN inside
    # array<array<double>> to null too
    nested = local_df(
        spark, [(1, [[0.5, float("nan")]])], "id long, xss array<array<double>>"
    ).collect()[0]["xss"]
    assert nested[0][0] == 0.5 and nested[0][1] is not None
    assert math.isnan(nested[0][1])

    # StructType schemas ride the fast path with identical content
    from pyspark.sql.types import LongType, StructField, StructType

    st = StructType([StructField("a", LongType()), StructField("b", LongType())])
    assert {tuple(r) for r in local_df(spark, [(1, 2), (3, None)], st).collect()} == {
        (1, 2),
        (3, None),
    }
