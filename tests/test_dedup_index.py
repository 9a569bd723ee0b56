from __future__ import annotations

from pyspark.sql import functions as F


def _pairs(df):
    return {(r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()}


def test_incremental_minhash_index_matches_batch_dedup(spark, documents, tmp_path):
    from whatsapp_vectordb_spark.operators.dedup import minhash_near_duplicates
    from whatsapp_vectordb_spark.operators.dedup_index import MinHashDedupIndex

    docs = documents.select("doc_id", "text").limit(120).cache()
    batch1 = docs.where(F.col("doc_id") < 60)
    # batch2: new docs + exact copies of two batch-1 docs + a batch-2-internal dup
    copies = batch1.where(F.col("doc_id").isin(3, 7)).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    b2_base = docs.where(F.col("doc_id") >= 60)
    b2_dup = b2_base.limit(1).select((F.col("doc_id") + 2000).alias("doc_id"), "text")
    batch2 = b2_base.unionByName(copies).unionByName(b2_dup)

    idx = MinHashDedupIndex(spark, str(tmp_path / "mh_index"), threshold=0.5)
    p1 = _pairs(idx.add_batch(batch1))
    p2 = _pairs(idx.add_batch(batch2))

    # cross-batch duplicates are found when the copy arrives
    cross = {(a, b) for a, b, _ in p2}
    assert (3, 1003) in cross and (7, 1007) in cross
    # batch-2-internal duplicate found in the same pass
    assert any(b >= 2000 for _, b in cross)

    # incremental union == one-shot batch dedup over the full corpus
    full = _pairs(minhash_near_duplicates(batch1.unionByName(batch2), threshold=0.5))
    assert p1 | p2 == full

    # a re-queried unrelated batch adds no phantom pairs
    fresh = spark.createDataFrame(
        [(9001, "completely unrelated nonsense tokens qqq www eee")],
        "doc_id long, text string",
    )
    p3 = _pairs(idx.add_batch(fresh))
    assert p3 == set()


def test_add_batch_reingest_is_noop(spark, documents, tmp_path):
    """Re-ingesting an already-indexed doc_id must not double-count its
    shingles (which would corrupt Jaccard for every future pair) — the
    batch is anti-joined against stored ids before any state is written."""
    from whatsapp_vectordb_spark.operators.dedup_index import MinHashDedupIndex

    docs = documents.select("doc_id", "text").limit(40).cache()
    idx = MinHashDedupIndex(spark, str(tmp_path / "mh_idx"), threshold=0.5)
    idx.add_batch(docs)
    sh_before = idx._stored("shingles").count()

    # the whole batch again: no pairs, no state growth
    again = idx.add_batch(docs)
    assert again.count() == 0
    sh_after = idx._stored("shingles").count()
    assert sh_after == sh_before

    # a genuine copy under a NEW id is still caught against the stored corpus
    copy = docs.limit(1).select((F.col("doc_id") + 5000).alias("doc_id"), "text")
    pairs = idx.add_batch(copy).collect()
    assert any(r["id_b"] >= 5000 for r in pairs)


def test_minhash_commit_is_atomic_per_batch(spark, tmp_path):
    """ADVICE r12: both state tables commit together via ONE dir rename —
    every visible batch dir holds BOTH tables, and an un-renamed staging
    dir (a simulated mid-commit crash) is invisible to ``_stored``."""
    import os

    from whatsapp_vectordb_spark.operators.dedup_index import MinHashDedupIndex

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    idx = MinHashDedupIndex(spark, str(tmp_path / "mh_atomic"), threshold=0.5)
    idx.add_batch(docs)

    batches_dir = tmp_path / "mh_atomic" / "batches"
    batch_dirs = [d for d in os.listdir(batches_dir)]
    assert len(batch_dirs) == 1
    for b in batch_dirs:  # a committed batch always carries both tables
        assert (batches_dir / b / "signatures").is_dir()
        assert (batches_dir / b / "shingles").is_dir()

    # simulate a crash BEFORE the commit rename: a fully-written staging
    # dir must not leak into reads — the doc stays re-ingestable
    n_sig = idx._stored("signatures").count()
    stage = tmp_path / "mh_atomic" / "_staging" / "deadbeef" / "signatures"
    os.makedirs(stage)
    idx._stored("signatures").limit(1).write.mode("overwrite").parquet(str(stage))
    assert idx._stored("signatures").count() == n_sig


# --- WinnowDedupIndex --------------------------------------------------------


def test_winnow_index_two_batches_equal_one_shot(spark, tmp_path):
    from whatsapp_vectordb_spark.operators.dedup import winnow_duplicate_pairs
    from whatsapp_vectordb_spark.operators.dedup_index import WinnowDedupIndex

    import random

    rng = random.Random(21)
    base = [
        (i, " ".join(f"w{rng.randrange(40)}" for _ in range(30))) for i in range(40)
    ]
    copies = [(100 + i, t + " tail extra") for i, (_, t) in enumerate(base[:10])]
    docs = spark.createDataFrame(base + copies, "doc_id long, text string")

    one_shot = {
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in winnow_duplicate_pairs(docs, k=3, w=4, min_shared=2).collect()
    }
    idx = WinnowDedupIndex(spark, str(tmp_path / "widx"), k=3, w=4, min_shared=2)
    p1 = idx.add_batch(docs.where("doc_id % 2 = 0"))
    p2 = idx.add_batch(docs.where("doc_id % 2 = 1"))
    incremental = {
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in p1.unionByName(p2).collect()
    }
    assert incremental == one_shot
    assert one_shot  # non-vacuous: the planted copies must pair up


def test_winnow_index_reingest_is_noop(spark, tmp_path):
    from whatsapp_vectordb_spark.operators.dedup_index import WinnowDedupIndex

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    idx = WinnowDedupIndex(spark, str(tmp_path / "widx2"), k=3, w=4, min_shared=1)
    first = idx.add_batch(docs).collect()
    assert {(r["id_a"], r["id_b"]) for r in first} == {(1, 2)}
    # re-ingesting the same ids must produce no new pairs and not corrupt state
    assert idx.add_batch(docs).collect() == []


def test_winnow_index_crash_retry_keeps_pairs_durable(spark, tmp_path):
    """The add_batch durability contract (ADVICE r11): with pairs_path,
    pairs land durably BEFORE the fingerprint append commits, and a
    post-commit retry (which recomputes an empty pair set) must NOT
    clobber the committed batch's pair file — union of the durable
    per-batch pair files ≡ one-shot under a crash at either side of the
    commit point."""
    from whatsapp_vectordb_spark.operators.dedup import winnow_duplicate_pairs
    from whatsapp_vectordb_spark.operators.dedup_index import WinnowDedupIndex

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "one two three four five six seven eight"),
            (4, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    one_shot = {
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in winnow_duplicate_pairs(docs, k=3, w=4, min_shared=1).collect()
    }

    idx = WinnowDedupIndex(spark, str(tmp_path / "widx3"), k=3, w=4, min_shared=1)
    pairs_dir = str(tmp_path / "pairs")
    b1 = docs.where("doc_id <= 2")
    b2 = docs.where("doc_id >= 3")

    # batch 0: crash AFTER the durable pairs write, BEFORE the append commit
    real_commit = idx._commit_batch
    def boom(frames):
        raise RuntimeError("simulated crash before fingerprint commit")
    idx._commit_batch = boom
    import pytest as _pt
    with _pt.raises(RuntimeError):
        idx.add_batch(b1, pairs_path=pairs_dir, batch_key=0)
    idx._commit_batch = real_commit
    # retry: docs not yet stored, so the batch recomputes and overwrites
    idx.add_batch(b1, pairs_path=pairs_dir, batch_key=0)

    # batch 1: commits fully, then a spurious retry (crash after commit,
    # e.g. the stream checkpoint didn't advance) replays the same batch
    idx.add_batch(b2, pairs_path=pairs_dir, batch_key=1)
    retried = idx.add_batch(b2, pairs_path=pairs_dir, batch_key=1)
    assert retried.count() == 0  # anti-joined out, as documented

    durable = {
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in spark.read.schema(
            "id_a long, id_b long, n_shared long, batch_id long"
        ).parquet(pairs_dir).drop("batch_id").collect()
    }
    assert durable == one_shot
    assert {(a, b) for a, b, _ in durable} == {(1, 2), (3, 4)}  # non-vacuous


def test_minhash_index_durable_pairs_survive_post_commit_retry(spark, tmp_path):
    """MinHash twin of the winnow durability test: with pairs_path, a
    spurious replay of a fully-committed batch must not clobber the
    committed pair file with the (empty) recompute."""
    from whatsapp_vectordb_spark.operators.dedup_index import MinHashDedupIndex

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    idx = MinHashDedupIndex(spark, str(tmp_path / "mh_dur"), threshold=0.5)
    pairs_dir = str(tmp_path / "mh_pairs")
    first = idx.add_batch(docs, pairs_path=pairs_dir, batch_key=0)
    assert first.count() == 1
    retried = idx.add_batch(docs, pairs_path=pairs_dir, batch_key=0)
    assert retried.count() == 0  # anti-joined out (documented)
    durable = spark.read.schema(
        "id_a long, id_b long, jaccard double, batch_id long"
    ).parquet(pairs_dir)
    assert [(r["id_a"], r["id_b"]) for r in durable.collect()] == [(1, 2)]


# ---------------------------------------------------------------- compact


def test_minhash_index_compact_preserves_probe_results(spark, documents, tmp_path):
    """VERDICT r13 #3: compact() merges the per-micro-batch dirs into one
    without changing a single bit of state — probe results before/after
    must be identical, and the pairs union must still equal the one-shot
    batch dedup."""
    from whatsapp_vectordb_spark.operators.dedup import minhash_near_duplicates
    from whatsapp_vectordb_spark.operators.dedup_index import MinHashDedupIndex

    docs = documents.select("doc_id", "text").limit(90).cache()
    b1 = docs.where(F.col("doc_id") < 30)
    b2 = docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 60))
    copies = b1.where(F.col("doc_id").isin(3, 7)).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    b3 = docs.where(F.col("doc_id") >= 60).unionByName(copies)

    idx = MinHashDedupIndex(spark, str(tmp_path / "mh_c"), threshold=0.5)
    p1 = _pairs(idx.add_batch(b1))
    p2 = _pairs(idx.add_batch(b2))
    sig_fp = idx._content_fingerprint(idx._stored("signatures"))
    sh_fp = idx._content_fingerprint(idx._stored("shingles"))

    merged = idx.compact()
    assert merged == 2
    assert len(idx._live_batch_dirs()) == 1
    # superseded dirs RETAINED (r17: they are the pre-compaction
    # time-travel bounds) until the explicit vacuum reclaims them
    import os

    assert len(os.listdir(idx._batches_path)) == 3
    idx.vacuum()
    assert len(os.listdir(idx._batches_path)) == 1
    # state bit-identical across the compaction
    assert idx._content_fingerprint(idx._stored("signatures")) == sig_fp
    assert idx._content_fingerprint(idx._stored("shingles")) == sh_fp
    # idempotent: nothing left to merge
    assert idx.compact() == 0

    # a post-compaction batch probes the merged state correctly
    p3 = _pairs(idx.add_batch(b3))
    assert {(a, b) for a, b, _ in p3} >= {(3, 1003), (7, 1007)}
    full = _pairs(
        minhash_near_duplicates(
            b1.unionByName(b2).unionByName(b3), threshold=0.5
        )
    )
    assert p1 | p2 | p3 == full


def test_minhash_index_crash_mid_compact_leaves_old_state_readable(
    spark, documents, tmp_path, monkeypatch
):
    """A crash at ANY point before the commit rename leaves the old dirs
    untouched and readable; a crash AFTER the rename but before the
    old-dir deletion leaves the replaced dirs invisible by manifest (no
    double-counted shingles)."""
    import os

    from whatsapp_vectordb_spark.operators.dedup_index import MinHashDedupIndex

    docs = documents.select("doc_id", "text").limit(40).cache()
    idx = MinHashDedupIndex(spark, str(tmp_path / "mh_crash"), threshold=0.5)
    idx.add_batch(docs.where(F.col("doc_id") < 20))
    idx.add_batch(docs.where(F.col("doc_id") >= 20))
    sig_fp = idx._content_fingerprint(idx._stored("signatures"))
    sh_fp = idx._content_fingerprint(idx._stored("shingles"))

    # crash BEFORE the rename: old state intact, staging swept on retry
    real_rename = os.rename

    def boom(src, dst):
        raise OSError("simulated crash before commit rename")

    monkeypatch.setattr(os, "rename", boom)
    try:
        idx.compact()
    except OSError:
        pass
    monkeypatch.setattr(os, "rename", real_rename)
    assert len(idx._live_batch_dirs()) == 2
    assert idx._content_fingerprint(idx._stored("signatures")) == sig_fp

    # crash AFTER the rename, before deletion: replaced dirs still on
    # disk but dead by manifest — state reads exactly once
    monkeypatch.setattr(MinHashDedupIndex, "_gc_dead_batches", lambda self: None)
    merged = idx.compact()
    monkeypatch.undo()
    assert merged == 2
    assert len(os.listdir(idx._batches_path)) == 3  # 2 dead + 1 merged
    assert len(idx._live_batch_dirs()) == 1
    assert idx._content_fingerprint(idx._stored("signatures")) == sig_fp
    assert idx._content_fingerprint(idx._stored("shingles")) == sh_fp
    # next maintenance pass reclaims the dead dirs
    idx._gc_dead_batches()
    assert len(os.listdir(idx._batches_path)) == 1


def test_winnow_index_compact_preserves_probe_results(spark, tmp_path):
    """Winnow twin: per-batch dirs merge into one compacted batch dir;
    fingerprint state is bit-identical and later batches still pair
    against pre-compaction docs."""
    import os

    from whatsapp_vectordb_spark.operators.dedup_index import (
        MinHashDedupIndex,
        WinnowDedupIndex,
    )

    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    docs1 = spark.createDataFrame(
        [(1, base + " one"), (2, "totally different words entirely here now")],
        "doc_id long, text string",
    )
    docs2 = spark.createDataFrame(
        [(3, "another unrelated document about spark plans and shuffles")],
        "doc_id long, text string",
    )
    docs3 = spark.createDataFrame(
        [(4, base + " two")], "doc_id long, text string"
    )  # shares a long run with doc 1 — must pair post-compaction

    idx = WinnowDedupIndex(spark, str(tmp_path / "wn_c"), min_shared=2)
    idx.add_batch(docs1)
    idx.add_batch(docs2)
    fp = MinHashDedupIndex._content_fingerprint(idx._stored("fingerprints"))
    assert len(idx._live_batch_dirs()) == 2

    merged = idx.compact()
    assert merged == 2
    assert len(idx._live_batch_dirs()) == 1
    # superseded entries RETAINED until vacuum (r17)
    assert len(os.listdir(idx._batches_path)) == 3
    idx.vacuum()
    assert len(os.listdir(idx._batches_path)) == 1
    assert MinHashDedupIndex._content_fingerprint(idx._stored("fingerprints")) == fp
    assert idx.compact() == 0

    pairs = {(r["id_a"], r["id_b"]) for r in idx.add_batch(docs3).collect()}
    assert (1, 4) in pairs


def test_winnow_index_crash_mid_compact_leaves_old_state_readable(
    spark, tmp_path, monkeypatch
):
    import os

    from whatsapp_vectordb_spark.operators.dedup_index import (
        MinHashDedupIndex,
        WinnowDedupIndex,
    )

    idx = WinnowDedupIndex(spark, str(tmp_path / "wn_crash"), min_shared=2)
    idx.add_batch(
        spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta")],
            "doc_id long, text string",
        )
    )
    idx.add_batch(
        spark.createDataFrame(
            [(2, "one two three four five six seven eight nine")],
            "doc_id long, text string",
        )
    )
    fp = MinHashDedupIndex._content_fingerprint(idx._stored("fingerprints"))

    def boom(src, dst):
        raise OSError("simulated crash before commit rename")

    monkeypatch.setattr(os, "rename", boom)
    try:
        idx.compact()
    except OSError:
        pass
    monkeypatch.undo()
    assert len(idx._live_batch_dirs()) == 2
    assert MinHashDedupIndex._content_fingerprint(idx._stored("fingerprints")) == fp

    # committed compaction with deletion suppressed: dead entries invisible
    monkeypatch.setattr(WinnowDedupIndex, "_gc_dead_batches", lambda self: None)
    assert idx.compact() == 2
    monkeypatch.undo()
    assert len(os.listdir(idx._batches_path)) == 3  # 2 dead dirs + 1 compacted dir
    assert len(idx._live_batch_dirs()) == 1
    assert MinHashDedupIndex._content_fingerprint(idx._stored("fingerprints")) == fp
    idx._gc_dead_batches()
    assert len(os.listdir(idx._batches_path)) == 1


def test_staging_gc_sweeps_orphaned_dirs(spark, tmp_path):
    """ADVICE r13: a hard crash leaves _staging/<uuid> orphans; the next
    add_batch sweeps them (they were never visible to reads)."""
    import os

    from whatsapp_vectordb_spark.operators.dedup_index import MinHashDedupIndex

    root = tmp_path / "mh_gc"
    orphan = root / "_staging" / "deadbeef"
    orphan.mkdir(parents=True)
    (orphan / "junk.bin").write_bytes(b"x" * 128)

    idx = MinHashDedupIndex(spark, str(root), threshold=0.5)
    idx.add_batch(
        spark.createDataFrame(
            [(1, "some words to index here for the sweep test")],
            "doc_id long, text string",
        )
    )
    assert os.listdir(str(root / "_staging")) == []


# ------------------------------------------------------------- semantic


def test_semdedup_index_greedy_election_and_reingest(spark, embeddings, tmp_path):
    """The semantic tier of the incremental index family: exact copies
    arriving later are dominated by the stored representative; decisions
    are final (greedy ε-net); re-ingest is a no-op; and the kept set
    satisfies the uniqueness certificate — no kept row has an
    earlier-ranked kept row within τ, every removed row does."""
    from whatsapp_vectordb_spark.functions.vector import cosine_similarity
    from whatsapp_vectordb_spark.operators.dedup_index import SemDedupIndex

    emb = embeddings.select("vec_id", "embedding").limit(200).cache()
    b1 = emb.where(F.col("vec_id") < 100)
    copies = b1.where(F.col("vec_id").isin(3, 7)).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    b2 = emb.where(F.col("vec_id") >= 100).unionByName(copies)

    idx = SemDedupIndex(spark, str(tmp_path / "sd_idx"), threshold=0.95, n_clusters=4)
    r1 = idx.add_batch(b1).withColumn("batch_no", F.lit(0)).cache()
    r2 = idx.add_batch(b2).withColumn("batch_no", F.lit(1)).cache()

    # every batch row judged exactly once
    assert r1.count() == b1.count() and r2.count() == b2.count()
    # exact copies of KEPT batch-1 rows are dominated on arrival
    kept1 = {r["vec_id"] for r in r1.where("kept").collect()}
    flags2 = {r["vec_id"]: r["kept"] for r in r2.collect()}
    for orig in (3, 7):
        if orig in kept1:
            assert flags2[orig + 100_000] is False

    # uniqueness certificate over the full history
    allr = r1.unionByName(r2).join(
        b1.unionByName(b2).select("vec_id", "embedding"), "vec_id"
    ).cache()
    a, b = allr.alias("a"), allr.alias("b")
    earlier = (
        (F.col("b.batch_no") < F.col("a.batch_no"))
        | (
            (F.col("b.batch_no") == F.col("a.batch_no"))
            & (
                (F.col("b.cent_sim") < F.col("a.cent_sim"))
                | (
                    (F.col("b.cent_sim") == F.col("a.cent_sim"))
                    & (F.col("b.vec_id") < F.col("a.vec_id"))
                )
            )
        )
    )
    dominated = (
        a.join(
            b,
            on=[
                F.col("a.centroid") == F.col("b.centroid"),
                F.col("b.kept"),
                F.col("a.vec_id") != F.col("b.vec_id"),
                F.round(
                    cosine_similarity(F.col("a.embedding"), F.col("b.embedding")), 6
                )
                >= 0.95,
                earlier,
            ],
        )
        .select(F.col("a.vec_id"))
        .dropDuplicates()
    )
    dom_ids = {r["vec_id"] for r in dominated.collect()}
    for r in allr.collect():
        assert r["kept"] == (r["vec_id"] not in dom_ids), r["vec_id"]
    assert dom_ids  # non-vacuous: something was dominated

    # re-ingest no-op: flags unchanged, state not regrown
    kept_fp = idx._content_fingerprint(idx._stored("kept"))
    again = idx.add_batch(b2)
    assert again.count() == 0
    assert idx._content_fingerprint(idx._stored("kept")) == kept_fp

    # compact (inherited machinery) preserves state and later elections
    # (the empty replay committed NO dir — only the two real batches)
    assert idx.compact() == 2
    assert idx._content_fingerprint(idx._stored("kept")) == kept_fp
    copy2 = b1.where(F.col("vec_id").isin(3)).select(
        (F.col("vec_id") + 200_000).alias("vec_id"), "embedding"
    )
    r3 = idx.add_batch(copy2).collect()
    if 3 in kept1:
        assert [r["kept"] for r in r3] == [False]
    emb.unpersist()


def _assert_dataless_compact_is_noop(idx):
    """>1 live dirs none of which holds parquet (e.g. dirs whose table
    subdirs were lost) leave nothing to merge: compact() returns 0 and
    publishes nothing."""
    import os

    for name in (f"{1:08d}_{'a' * 32}", f"{2:08d}_{'b' * 32}"):
        os.makedirs(os.path.join(idx._batches_path, name))
    assert len(idx._live_batch_dirs()) == 2
    assert all(idx._stored(t) is None for t in idx._TABLES)
    assert idx.compact() == 0
    assert len(os.listdir(idx._batches_path)) == 2


def test_winnow_compact_with_dataless_entries_is_noop(spark, tmp_path):
    """ADVICE r14: must be a clean no-op, not an AttributeError from
    fingerprinting a None frame."""
    from whatsapp_vectordb_spark.operators.dedup_index import WinnowDedupIndex

    _assert_dataless_compact_is_noop(
        WinnowDedupIndex(spark, str(tmp_path / "w_idx"), k=5, w=4, min_shared=2)
    )


def test_minhash_compact_with_dataless_dirs_is_noop(spark, tmp_path):
    """The shared compact() publishes no manifest-only dir."""
    from whatsapp_vectordb_spark.operators.dedup_index import MinHashDedupIndex

    _assert_dataless_compact_is_noop(
        MinHashDedupIndex(spark, str(tmp_path / "mh_idx"), threshold=0.5)
    )


# ------------------------------------------------------- time travel (r17)


def test_minhash_index_pairs_at_survives_compaction(
    spark, documents, tmp_path
):
    """r16 verdict #4: the dedup tiers get the serving layouts'
    snapshot story — ``pairs_at(as_of)`` replays the verdict set at any
    retained commit, THROUGH a compaction (superseded dirs are retained,
    dead-by-manifest for tip readers only); vacuum expires the history
    with a loud error, never a silent partial state."""
    import pytest

    from whatsapp_vectordb_spark.operators.dedup import minhash_near_duplicates
    from whatsapp_vectordb_spark.operators.dedup_index import MinHashDedupIndex

    docs = documents.select("doc_id", "text").limit(90).cache()
    b1 = docs.where(F.col("doc_id") % 3 == 0)
    b2 = docs.where(F.col("doc_id") % 3 == 1).unionByName(
        b1.where(F.col("doc_id").isin(3, 9)).select(
            (F.col("doc_id") + 1000).alias("doc_id"), "text"
        )
    )
    b3 = docs.where(F.col("doc_id") % 3 == 2).unionByName(
        b1.where(F.col("doc_id") == 6).select(
            (F.col("doc_id") + 3000).alias("doc_id"), "text"
        )
    )

    idx = MinHashDedupIndex(spark, str(tmp_path / "mh_tt"), threshold=0.5)
    idx.add_batch(b1)  # seq 1
    idx.add_batch(b2)  # seq 2
    assert idx.compact() == 2  # seq 3
    idx.add_batch(b3)  # seq 4
    assert idx.snapshots() == [0, 1, 2, 3, 4]

    # bound BEFORE the compaction reads the retained dirs
    at2 = _pairs(idx.pairs_at(2))
    exp2 = _pairs(minhash_near_duplicates(b1.unionByName(b2), threshold=0.5))
    assert at2 == exp2 and (3, 1003) in {(a, b) for a, b, _ in at2}
    # bound at/after the compaction reads the compacted dir
    assert _pairs(idx.pairs_at(3)) == exp2
    tip = _pairs(idx.pairs_at())
    exp_tip = _pairs(
        minhash_near_duplicates(
            b1.unionByName(b2).unionByName(b3), threshold=0.5
        )
    )
    assert tip == exp_tip and tip > at2
    assert _pairs(idx.pairs_at(0)) == set()

    idx.vacuum()
    with pytest.raises(ValueError, match="no longer readable"):
        idx.pairs_at(2)
    assert _pairs(idx.pairs_at(3)) == exp2  # the compacted bound survives
    assert _pairs(idx.pairs_at()) == exp_tip
    docs.unpersist()


def test_winnow_index_pairs_at_survives_compaction(spark, tmp_path):
    """Substring tier twin of the MinHash time-travel contract."""
    import pytest

    from whatsapp_vectordb_spark.operators.dedup_index import WinnowDedupIndex

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b1 = spark.createDataFrame(
        [(1, base + " one"), (2, "totally different words here xyz abc")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame([(3, base + " two")], "doc_id long, text string")
    b3 = spark.createDataFrame([(4, base + " three")], "doc_id long, text string")

    idx = WinnowDedupIndex(spark, str(tmp_path / "wn_tt"), min_shared=2)
    idx.add_batch(b1)  # seq 1
    idx.add_batch(b2)  # seq 2
    assert idx.compact() == 2  # seq 3
    idx.add_batch(b3)  # seq 4
    assert idx.snapshots() == [0, 1, 2, 3, 4]

    def pat(bound=None):
        return {
            (r["id_a"], r["id_b"]) for r in idx.pairs_at(bound).collect()
        }

    assert pat(1) == set()
    assert pat(2) == {(1, 3)}
    assert pat(3) == {(1, 3)}
    assert pat() == {(1, 3), (1, 4), (3, 4)}

    idx.vacuum()
    with pytest.raises(ValueError, match="no longer readable"):
        idx.pairs_at(2)
    assert pat(3) == {(1, 3)}


def test_semdedup_index_verdicts_at(spark, embeddings, tmp_path):
    """Semantic tier: ``verdicts_at(as_of)`` replays the kept/removed
    flags as of any retained commit (greedy decisions are final, so the
    bounded state IS the verdict history)."""
    from whatsapp_vectordb_spark.operators.dedup_index import SemDedupIndex

    emb = embeddings.select("vec_id", "embedding").limit(60).cache()
    copies = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    b2 = emb.where(F.col("vec_id") % 2 == 1).unionByName(copies)

    idx = SemDedupIndex(
        spark, str(tmp_path / "sd_tt"), threshold=0.95, n_clusters=4
    )
    r1 = {
        r["vec_id"]: r["kept"] for r in idx.add_batch(b1).collect()
    }  # seq 1
    r2 = {r["vec_id"]: r["kept"] for r in idx.add_batch(b2).collect()}  # seq 2
    assert idx.compact() == 2  # seq 3

    v1 = {r["vec_id"]: r["kept"] for r in idx.verdicts_at(1).collect()}
    assert v1 == r1
    v2 = {r["vec_id"]: r["kept"] for r in idx.verdicts_at(2).collect()}
    assert v2 == {**r1, **r2}
    # through the compaction: bound 3 = same verdicts, compacted state
    assert {
        r["vec_id"]: r["kept"] for r in idx.verdicts_at(3).collect()
    } == v2
    assert {
        r["vec_id"]: r["kept"] for r in idx.verdicts_at().collect()
    } == v2
    # exact copies of kept batch-1 rows must be removed in batch 2
    kept1 = {i for i, k in r1.items() if k}
    dominated = {i + 100_000 for i in kept1 if i % 10 == 0}
    assert dominated and all(v2[d] is False for d in dominated)
    emb.unpersist()


def test_dedup_index_maintenance_tick_policy(spark, documents, tmp_path):
    """The dedup tiers' compaction-policy verb (the serving layouts'
    maintenance_tick contract): declines under the threshold at listdir
    cost, compacts past it, retention untouched either way."""
    from whatsapp_vectordb_spark.operators.dedup_index import (
        MinHashDedupIndex,
        WinnowDedupIndex,
    )

    docs = documents.select("doc_id", "text").limit(40).cache()
    idx = MinHashDedupIndex(spark, str(tmp_path / "mh_tick"), threshold=0.5)
    for i in range(3):
        idx.add_batch(docs.where(F.col("doc_id") % 3 == i))
    out = idx.maintenance_tick(max_live_dirs=8)
    assert out == {
        "compacted": False,
        "live_dirs_before": 3,
        "live_dirs_after": 3,
    }
    out = idx.maintenance_tick(max_live_dirs=2)
    assert out["compacted"] and out["live_dirs_after"] == 1
    # retention intact: the pre-compaction bound still reads
    assert idx.pairs_at(2) is not None and idx.snapshots()[-1] == 4

    widx = WinnowDedupIndex(spark, str(tmp_path / "wn_tick"), min_shared=2)
    widx.add_batch(docs.where(F.col("doc_id") % 2 == 0))
    widx.add_batch(docs.where(F.col("doc_id") % 2 == 1))
    assert widx.maintenance_tick(max_live_dirs=8)["compacted"] is False
    out = widx.maintenance_tick(max_live_dirs=1)
    assert out["compacted"] and out["live_dirs_after"] == 1
    docs.unpersist()


# --------------------------------------------------------------------------
# Round 17: verify() — the dedup-index fsck (the serving layouts'
# verify_layout twin).
# --------------------------------------------------------------------------


def _built_index(spark, documents, tmp_path, name, cls=None):
    """Two committed batches on a MinHash index (or on ``cls``)."""
    from whatsapp_vectordb_spark.operators.dedup_index import MinHashDedupIndex

    docs = documents.select("doc_id", "text").limit(80)
    if cls is None:
        idx = MinHashDedupIndex(spark, str(tmp_path / name), threshold=0.5)
    else:
        idx = cls(spark, str(tmp_path / name))
    idx.add_batch(docs.where(F.col("doc_id") < 40))
    idx.add_batch(docs.where(F.col("doc_id") >= 40))
    return idx


def _check_verify_clean_and_deep(idx):
    rep = idx.verify()
    assert rep["ok"] and rep["errors"] == [] and rep["warnings"] == []
    assert rep["info"]["state_dirs"] == 2

    assert idx.compact() == 2
    deep = idx.verify(deep=True)
    assert deep["ok"], deep["errors"]
    # the compaction commit replayed against its pre-compaction bound
    assert any(v == "ok" for _, _, v in deep["info"]["deep_checked"])


def _check_verify_flags_duplicate_seq_orphans_and_stale_lease(idx):
    import json
    import os
    import shutil

    bdir = idx._batches_path
    victim = sorted(os.listdir(bdir))[0]
    forged = f"{victim.split('_')[0]}_{'e' * 32}"
    shutil.copytree(os.path.join(bdir, victim), os.path.join(bdir, forged))
    os.makedirs(os.path.join(idx.path, "_staging", "cafebabe"))
    with open(os.path.join(idx.path, "_writer.lock"), "w") as f:
        json.dump(
            {"pid": 2**22 + 54321, "host": os.uname().nodename,
             "verb": "compact", "acquired_at": 0.0},
            f,
        )

    rep = idx.verify()
    assert not rep["ok"]
    assert any("duplicate commit seq" in e for e in rep["errors"])
    assert any("_staging" in w for w in rep["warnings"])
    assert any("stale _writer.lock" in w for w in rep["warnings"])


def test_dedup_index_verify_clean_and_deep_after_compaction(
    spark, documents, tmp_path
):
    _check_verify_clean_and_deep(
        _built_index(spark, documents, tmp_path, "fsck_mh_clean")
    )


def test_dedup_index_verify_flags_duplicate_seq_orphans_and_stale_lease(
    spark, documents, tmp_path
):
    _check_verify_flags_duplicate_seq_orphans_and_stale_lease(
        _built_index(spark, documents, tmp_path, "fsck_mh_bad")
    )


def test_winnow_index_verify_clean_deep_and_flags_duplicate_seq(
    spark, documents, tmp_path
):
    """The Winnow tier inherits the batch-dir fsck: clean after two
    batches and a compaction (deep replay included), and a forged
    duplicate seq is an error."""
    from whatsapp_vectordb_spark.operators.dedup_index import WinnowDedupIndex

    _check_verify_clean_and_deep(
        _built_index(spark, documents, tmp_path, "fsck_wn_clean", WinnowDedupIndex)
    )
    _check_verify_flags_duplicate_seq_orphans_and_stale_lease(
        _built_index(spark, documents, tmp_path, "fsck_wn_bad", WinnowDedupIndex)
    )


def test_dedup_index_verify_deep_catches_tampered_retained_victim(
    spark, documents, tmp_path
):
    import glob
    import os

    idx = _built_index(spark, documents, tmp_path, "fsck_mh_tamper")
    assert idx.compact() == 2
    # corrupt a RETAINED victim: the pre-compaction bound no longer
    # reproduces what the compaction published
    bdir = idx._batches_path
    live = set(idx._live_batch_dirs())
    victims = [b for b in sorted(os.listdir(bdir)) if b not in live]
    assert victims
    parts = glob.glob(os.path.join(bdir, victims[0], "*", "*.parquet"))
    assert parts
    os.remove(parts[0])

    assert idx.verify()["ok"]  # metadata level cannot see it
    deep = idx.verify(deep=True)
    assert not deep["ok"]
    assert any("no longer reproduce" in e for e in deep["errors"])


def test_dedup_index_verify_unreadable_manifest_warns(
    spark, documents, tmp_path
):
    import os

    idx = _built_index(spark, documents, tmp_path, "fsck_mh_manifest")
    assert idx.compact() == 2
    live = idx._live_batch_dirs()
    man = os.path.join(idx._batches_path, live[0], "replaces.json")
    assert os.path.exists(man)
    with open(man, "w") as f:
        f.write("{truncated")
    rep = idx.verify()
    assert rep["ok"]  # degraded read, not corruption
    assert any("unreadable replaces.json" in w for w in rep["warnings"])


def test_lazy_pair_returns_survive_later_ingests_and_compaction(
    spark, documents, tmp_path
):
    """r18: add_batch returns a LAZY pair frame pinned to the pre-commit
    state (batch side eagerly checkpointed, stored side read by explicit
    pre-commit paths). Consuming every returned frame only AFTER all
    ingests AND a compaction must yield exactly the per-batch pair sets
    an eager consumer saw — for both the MinHash and Winnow tiers."""
    from whatsapp_vectordb_spark.operators.dedup_index import (
        MinHashDedupIndex,
        WinnowDedupIndex,
    )

    docs = documents.select("doc_id", "text").limit(90).cache()
    batches = [
        docs.where(F.col("doc_id") % 3 == i).unionByName(
            docs.where((F.col("doc_id") % 3 == (i + 1) % 3) & (F.col("doc_id") < 9))
            .select((F.col("doc_id") + 5000 * (i + 1)).alias("doc_id"), "text")
        )
        for i in range(3)
    ]

    # eager reference: consume each batch's pairs immediately
    ref = MinHashDedupIndex(spark, str(tmp_path / "mh_eager"), threshold=0.5)
    eager = [_pairs(ref.add_batch(b)) for b in batches]

    lazy_idx = MinHashDedupIndex(spark, str(tmp_path / "mh_lazy"), threshold=0.5)
    frames = [lazy_idx.add_batch(b) for b in batches[:2]]
    assert lazy_idx.compact() == 2  # supersedes (retains) both batch dirs
    frames.append(lazy_idx.add_batch(batches[2]))
    # consume only now — after two later commits and a compaction
    assert [_pairs(f) for f in frames] == eager

    def _wpairs(df):
        return {(r["id_a"], r["id_b"], r["n_shared"]) for r in df.collect()}

    wref = WinnowDedupIndex(spark, str(tmp_path / "wn_eager"))
    weager = [_wpairs(wref.add_batch(b)) for b in batches]
    wlazy = WinnowDedupIndex(spark, str(tmp_path / "wn_lazy"))
    wframes = [wlazy.add_batch(b) for b in batches[:2]]
    assert wlazy.compact() == 2
    wframes.append(wlazy.add_batch(batches[2]))
    assert [_wpairs(f) for f in wframes] == weager
