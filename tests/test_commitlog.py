"""The shared commit log (``whatsapp_vectordb_spark.commitlog``): every
committing verb of every persisted tier publishes through one
stage-and-rename helper, so a crash at the rename leaves each tier in
the same state — no new snapshot, no staging left behind, the lease
released."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _serving(cls_name, verb):
    def setup(spark, embeddings, documents, path):
        from whatsapp_vectordb_spark.operators import ann

        cls = getattr(ann, cls_name)
        emb = embeddings.select("vec_id", "embedding")
        kw = {"m": 8, "ksub": 16, "sample_rows": 500} if cls is ann.IvfPqIndex else {}
        cls.build(emb, n_centroids=4, **kw).save(path, store_vectors=True)
        rows = emb.where(F.col("vec_id") < 5)

        def commit():
            idx = cls.load(spark, path)
            if verb == "upsert":
                idx.upsert(rows, path=path)
            else:
                idx.delete([1, 2], path=path)

        return commit, lambda: ann.layout_snapshots(path)

    return setup


def _dedup(cls_name):
    def setup(spark, embeddings, documents, path):
        from whatsapp_vectordb_spark.operators import dedup_index

        idx = getattr(dedup_index, cls_name)(spark, path)
        docs = documents.select("doc_id", "text").limit(40)
        idx.add_batch(docs.where(F.col("doc_id") % 2 == 0))
        return (
            lambda: idx.add_batch(docs.where(F.col("doc_id") % 2 == 1)),
            idx.snapshots,
        )

    return setup


@pytest.mark.parametrize(
    "setup",
    [
        _serving("IvfSq8Index", "upsert"),
        _serving("IvfSq8Index", "delete"),
        _serving("IvfPqIndex", "upsert"),
        _serving("IvfPqIndex", "delete"),
        _dedup("MinHashDedupIndex"),
        _dedup("WinnowDedupIndex"),
    ],
    ids=[
        "sq8-upsert",
        "sq8-delete",
        "pq-upsert",
        "pq-delete",
        "minhash-add_batch",
        "winnow-add_batch",
    ],
)
def test_crash_at_commit_rename_leaves_no_trace(
    spark, embeddings, documents, tmp_path, monkeypatch, setup
):
    from whatsapp_vectordb_spark import commitlog

    path = str(tmp_path / "artifact")
    commit, snapshots = setup(spark, embeddings, documents, path)
    before = snapshots()

    def boom(src, dst):
        raise OSError("simulated crash at the commit rename")

    monkeypatch.setattr(os, "rename", boom)
    with pytest.raises(OSError, match="simulated crash"):
        commit()
    monkeypatch.undo()

    assert snapshots() == before
    staging = os.path.join(path, "_staging")
    assert not os.path.isdir(staging) or os.listdir(staging) == []
    assert not os.path.exists(os.path.join(path, "_writer.lock"))
    assert os.path.realpath(path) not in commitlog._LEASES

    commit()  # the lease is free: the retried commit lands
    after = snapshots()
    assert len(after) == len(before) + 1 and after[:-1] == before
