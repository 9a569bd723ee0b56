"""IvfSq8Index MUTATION verbs at 1M×1536: what upsert/delete cost on
the persisted serving artifact, and what the tombstone mask costs reads
(r15 — the ingest twin is tools/stress_ivf_sq8_ingest.py).

The mutation design is seq-ordered atomic commits: a delete is one
``batches/<seq>_<uuid>/deletes`` rename, an upsert is one dir holding
fresh codes + co-located floats + its own ids' tombstones, reads mask
strictly-older rows with ONE broadcast anti-join, ``save`` folds it all
physically. The numbers a production reader wants:

  1. delete commit latency for a 10k id set (driver-side tombstone
     write — should be near-constant, independent of corpus size);
  2. upsert commit latency for 10k rows (frozen-quantizer encode + the
     staged three-table write);
  3. the masked-read tax: probe latency before any mutation vs with
     tombstones live (the broadcast anti-join's cost on the serving
     path);
  4. fold cost (``save``) and the post-fold probe returning bit-equal
     results.

Semantics are asserted along the way: a planted clone of the query
vector is upserted, deleted, re-upserted — the final probe must serve
exactly the re-add.

    python tools/stress_ivf_sq8_mutate.py [n] [dim] [mut_rows]

Defaults: 1,000,000 × 1536, 10,000-row mutations. One JSON line per
stage (BASELINE.md record format).
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
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n = int(args[0]) if args else 1_000_000
    dim = int(args[1]) if len(args) > 1 else 1536
    mut = int(args[2]) if len(args) > 2 else 10_000

    import numpy as np
    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index
    from whatsapp_vectordb_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    spark = get_spark(app_name="ivf-sq8-mutate-stress")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="wvs_sq8_mutate_", dir=_scratch_root())
    import atexit

    atexit.register(shutil.rmtree, root, ignore_errors=True)
    out: dict = {"metric": "ivf_sq8_mutate_stress", "n": n, "dim": dim, "mut": mut}

    def synth_fn(offset: int):
        def synth(batches):
            import pandas as pd

            for pdf in batches:
                ids = pdf["id"].to_numpy() + offset
                rng = np.random.default_rng(1_000_003 + int(ids[0]))
                m = rng.standard_normal((len(ids), dim)).astype(np.float32)
                yield pd.DataFrame({"vec_id": ids, "embedding": list(m)})

        return synth

    corpus_path = os.path.join(root, "corpus")
    t0 = time.perf_counter()
    (
        spark.range(n)
        .repartition(64)
        .mapInPandas(synth_fn(0), schema="vec_id long, embedding array<float>")
        .write.mode("overwrite")
        .parquet(corpus_path)
    )
    out["synth_write_s"] = round(time.perf_counter() - t0, 1)
    base = spark.read.parquet(corpus_path)
    print(json.dumps(out), flush=True)

    t0 = time.perf_counter()
    idx_path = os.path.join(root, "index")
    IvfSq8Index.build(base, n_centroids=64, sample_rows=50_000).save(
        idx_path, store_vectors=True
    )
    build_save_raw = time.perf_counter() - t0
    out["build_save_s"] = round(build_save_raw, 1)
    print(json.dumps(out), flush=True)

    qvec = base.where(F.col("vec_id") == 0).head()["embedding"]

    # pre-mutation probe level (the masked-read comparison point)
    pre = IvfSq8Index.load(spark, idx_path)
    t0 = time.perf_counter()
    baseline_top = [
        (r["vec_id"], r["score"])
        for r in pre.search(query_vec=qvec, k=4, nprobe=4, shortlist=64).collect()
    ]
    out["probe_premutation_s"] = round(time.perf_counter() - t0, 2)
    print(json.dumps(out), flush=True)

    # seq1 UPSERT: mut fresh rows + one planted clone of the query vector
    clone_id = 30_000_000
    batch = (
        spark.range(mut - 1)
        .repartition(16)
        .mapInPandas(synth_fn(10_000_000), schema="vec_id long, embedding array<float>")
        .unionByName(
            spark.createDataFrame(
                [(clone_id, list(map(float, qvec)))],
                "vec_id long, embedding array<float>",
            )
        )
    )
    loaded = IvfSq8Index.load(spark, idx_path)
    t0 = time.perf_counter()
    loaded.upsert(batch, path=idx_path)
    out["upsert_commit_s"] = round(time.perf_counter() - t0, 1)
    out["upsert_rows_per_s"] = int(mut / (time.perf_counter() - t0))
    print(json.dumps(out), flush=True)

    # seq2 DELETE: the clone + (mut - 1) base ids — one tombstone commit
    del_ids = [clone_id] + list(range(100, 100 + mut - 1))
    loaded2 = IvfSq8Index.load(spark, idx_path)
    t0 = time.perf_counter()
    loaded2.delete(del_ids, path=idx_path)
    out["delete_commit_s"] = round(time.perf_counter() - t0, 1)
    print(json.dumps(out), flush=True)

    # seq3 UPSERT: re-add the clone — the write-after-delete must win
    IvfSq8Index.load(spark, idx_path).upsert(
        spark.createDataFrame(
            [(clone_id, list(map(float, qvec)))],
            "vec_id long, embedding array<float>",
        ),
        path=idx_path,
    )

    # masked probe: tombstones live → the broadcast anti-join is on the
    # serving path; the clone must be served (re-add wins), deleted base
    # ids must not
    re = IvfSq8Index.load(spark, idx_path)
    t0 = time.perf_counter()
    got = [
        (r["vec_id"], r["score"])
        for r in re.search(query_vec=qvec, k=4, nprobe=4, shortlist=64).collect()
    ]
    out["probe_masked_s"] = round(time.perf_counter() - t0, 2)
    got_ids = [g[0] for g in got]
    assert clone_id in got_ids[:2], got
    assert not any(100 <= g < 100 + mut - 1 for g in got_ids), got
    out["readd_served"] = True
    print(json.dumps(out), flush=True)

    # fold: save() applies tombstones physically; bit-equal serving after
    t0 = time.perf_counter()
    re.save(idx_path, store_vectors=True)
    out["compact_save_s"] = round(time.perf_counter() - t0, 1)
    assert not os.path.isdir(os.path.join(idx_path, "batches"))
    folded = IvfSq8Index.load(spark, idx_path)
    t0 = time.perf_counter()
    got2 = [
        (r["vec_id"], r["score"])
        for r in folded.search(query_vec=qvec, k=4, nprobe=4, shortlist=64).collect()
    ]
    out["probe_postfold_s"] = round(time.perf_counter() - t0, 2)
    assert got == got2, (got, got2)
    out["post_fold_probe_equal"] = True
    out["visible_rows"] = folded.codes.count()
    assert out["visible_rows"] == n + mut - (mut - 1), out["visible_rows"]
    print(json.dumps(out), flush=True)
    # keep the baseline_top reference honest: the pre-mutation leader is
    # base vec 0 itself; after mutations the clone ties/joins it
    out["premutation_leader"] = baseline_top[0][0]
    print(json.dumps(out), flush=True)

    # --- r16: the BOUNDED fold, measured (VERDICT r15 #3). The cycle
    # above mutates ids spread over ~all 64 cells, so its fold honestly
    # rewrites ~everything. This cycle's mutation is CELL-LOCAL: 1k
    # clones of the query vector (all land in its cell) + 500 deletes
    # drawn from ONE cell — the fold must rewrite only the touched
    # partitions and leave the rest physically in place, making fold
    # cost O(touched cells), not O(corpus).
    clone_batch = spark.createDataFrame(
        [(40_000_000 + i, list(map(float, qvec))) for i in range(1_000)],
        "vec_id long, embedding array<float>",
    )
    lv = IvfSq8Index.load(spark, idx_path)
    target_cell = lv.probe_centroid_ids(qvec, nprobe=1)[0]
    cell_ids = [
        r["vec_id"]
        for r in lv.codes.where(
            (F.col("centroid") == target_cell) & (F.col("vec_id") < n)
        )
        .limit(500)
        .collect()
    ]
    lv.upsert(clone_batch, path=idx_path)
    IvfSq8Index.load(spark, idx_path).delete(cell_ids, path=idx_path)

    def cell_mtimes(sub: str) -> dict:
        d = os.path.join(idx_path, sub)
        return {
            c: os.path.getmtime(os.path.join(d, c))
            for c in os.listdir(d)
            if c.startswith("centroid=")
        }

    before_mt = {s: cell_mtimes(s) for s in ("codes", "vectors")}
    bdir = os.path.join(idx_path, "batches")
    touched = set()
    for b in os.listdir(bdir):
        croot = os.path.join(bdir, b, "codes")
        if os.path.isdir(croot):
            touched |= {
                f"centroid={r['centroid']}"
                for r in spark.read.parquet(croot)
                .select("centroid")
                .distinct()
                .collect()
            }
    touched.add(f"centroid={target_cell}")

    fold_idx = IvfSq8Index.load(spark, idx_path)
    t0 = time.perf_counter()
    fold_idx.save(idx_path, store_vectors=True)
    out["bounded_fold_s"] = round(time.perf_counter() - t0, 1)
    out["bounded_fold_touched_cells"] = len(touched)
    out["bounded_fold_total_cells"] = len(before_mt["codes"])
    after_mt = {s: cell_mtimes(s) for s in ("codes", "vectors")}
    untouched_ok = all(
        after_mt[s][c] == before_mt[s][c]
        for s in ("codes", "vectors")
        for c in before_mt[s]
        if c not in touched
    )
    out["bounded_fold_untouched_intact"] = untouched_ok
    assert untouched_ok, "bounded fold rewrote untouched partitions"
    assert not os.path.isdir(bdir)

    # serving after the bounded fold: clones visible, cell deletes gone
    fin = IvfSq8Index.load(spark, idx_path)
    top = [
        r["vec_id"]
        for r in fin.search(
            query_vec=qvec, k=8, nprobe=4, shortlist=64
        ).collect()
    ]
    assert any(t >= 40_000_000 for t in top), top
    assert (
        fin.codes.where(F.col("vec_id").isin(cell_ids[:50])).count() == 0
    )
    out["bounded_fold_serving_ok"] = True
    print(json.dumps(out), flush=True)

    # --- r16: the SNAPSHOT/TICK/REBUILD lifecycle at scale. Two fresh
    # commits build a log to time-travel over: seq1 upserts 1k clones of
    # the query vector, seq2 deletes ALL of them — so the tip's top-k
    # holds no clone while the as_of=1 snapshot's top-k is nothing but
    # clones. The claims to measure: (a) a snapshot read costs the same
    # as a tip read (the bound only DROPS union branches — pure
    # metadata); (b) a declining maintenance tick costs a directory
    # listing, no Spark job; (c) rebuild is an honest O(corpus) retrain
    # — the same bill as the original build, the price of fresh
    # quantizers.
    from whatsapp_vectordb_spark.operators.ann import (
        layout_snapshots,
        maintenance_tick,
        rebuild_layout,
    )

    tt_ids = list(range(50_000_000, 50_001_000))
    tt_batch = spark.createDataFrame(
        [(i, list(map(float, qvec))) for i in tt_ids],
        "vec_id long, embedding array<float>",
    )
    IvfSq8Index.load(spark, idx_path).upsert(tt_batch, path=idx_path)  # seq1
    IvfSq8Index.load(spark, idx_path).delete(tt_ids, path=idx_path)  # seq2
    # the folds above bumped the fold epoch; the two fresh commits are
    # seqs 1 and 2 of the current one
    epoch = layout_snapshots(idx_path)[-1][0]
    assert layout_snapshots(idx_path)[-3:] == [(epoch, 0), (epoch, 1), (epoch, 2)]

    # warm the fresh commits' footers/plans once so the tip-vs-snapshot
    # comparison below measures the BOUND, not cold-read order bias
    IvfSq8Index.load(spark, idx_path).search(
        query_vec=qvec, k=8, nprobe=4, shortlist=64
    ).collect()

    t0 = time.perf_counter()
    tip = IvfSq8Index.load(spark, idx_path)
    tip_top = [
        r["vec_id"]
        for r in tip.search(query_vec=qvec, k=8, nprobe=4, shortlist=64).collect()
    ]
    tip_raw = time.perf_counter() - t0
    out["probe_tip_s"] = round(tip_raw, 2)
    assert not any(i in tt_ids for i in tip_top), tip_top

    t0 = time.perf_counter()
    snap = IvfSq8Index.load(spark, idx_path, as_of=1)
    snap_top = [
        r["vec_id"]
        for r in snap.search(query_vec=qvec, k=8, nprobe=4, shortlist=64).collect()
    ]
    snap_raw = time.perf_counter() - t0
    out["probe_snapshot_s"] = round(snap_raw, 2)
    # the earlier cycles' clones (30M/40M ids, folded into the base)
    # outrank the tt clones by id tie-break — visibility of the tt
    # commits is asserted directly on both bounds instead
    probe_check = tt_ids[:100]
    assert (
        snap.codes.where(F.col("vec_id").isin(probe_check)).count()
        == len(probe_check)
    ), "seq1 rows missing from the as_of=1 snapshot"
    assert (
        tip.codes.where(F.col("vec_id").isin(probe_check)).count() == 0
    ), "seq2 deletes leaked into the tip"
    # unrounded raw values: a sub-5ms tip probe on a tiny smoke run
    # would make the rounded denominator 0.0 and crash the ratio
    out["snapshot_over_tip_ratio"] = round(snap_raw / max(tip_raw, 1e-6), 2)
    print(json.dumps(out), flush=True)

    # (b) tick: decline = one listdir; fold = the bounded fold above
    t0 = time.perf_counter()
    decline = maintenance_tick(
        IvfSq8Index, spark, idx_path,
        max_data_commits=64, max_tombstone_commits=64,
    )
    out["tick_decline_s"] = round(time.perf_counter() - t0, 4)
    assert decline["folded"] is False
    t0 = time.perf_counter()
    folded_tick = maintenance_tick(
        IvfSq8Index, spark, idx_path,
        max_data_commits=1, max_tombstone_commits=1,
    )
    out["tick_fold_s"] = round(time.perf_counter() - t0, 1)
    assert folded_tick["folded"] and folded_tick["after"]["batch_commits"] == 0
    print(json.dumps(out), flush=True)

    # (c) rebuild: full retrain from the visible corpus (same protocol
    # as the build: 64 cells, 50k-row quantizer sample)
    t0 = time.perf_counter()
    rebuilt = rebuild_layout(
        IvfSq8Index, spark, idx_path, n_centroids=64, sample_rows=50_000
    )
    out["rebuild_s"] = round(time.perf_counter() - t0, 1)
    rb_top = [
        r["vec_id"]
        for r in rebuilt.search(
            query_vec=qvec, k=8, nprobe=4, shortlist=64
        ).collect()
    ]
    assert rb_top[0] == tip_top[0], (rb_top, tip_top)
    out["rebuild_rows"] = rebuilt.codes.count()
    # unrounded denominator: the rounded build_save_s can be 0.0 on a
    # small smoke run (same guard class as snapshot_over_tip_ratio)
    out["rebuild_over_build_ratio"] = round(
        out["rebuild_s"] / max(build_save_raw, 1e-6), 2
    )
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
