"""ingest: the write path. Chat lines are parsed, embedded and deduplicated,
and their vectors committed to a persisted ``IvfSq8Index`` beside fresh
reads of it.

Setup builds and saves a 64-dim index with its co-located float store
over clustered unit vectors (the corpus already being served), writes
chat-export shards synthesized from the seed, and warms up with
``ingest_batch`` and one write cycle on shard 0, whose commits the first
round's fold takes in. A round ingests one shard:

- ``ingest_batch``: ``spark.read.text`` of the shard →
  ``parse.parse_chat_lines`` (materialized) → ``embedder.with_embedding``
  at the index's dimension (materialized) → ``MinHashDedupIndex.add_batch``,
  whose returned pairs are consumed;
- ``WRITES_PER_BATCH`` times, a write cycle:

  - ``upsert`` of ``UPSERT_ROWS`` rows made from the batch's embeddings:
    half are its new messages under their own doc ids, half replace live
    ids;
  - ``delete`` of ``DELETE_ROWS`` other live ids;
  - a fresh read: ``IvfSq8Index.load`` of the tip, then one
    ``search(k=10)`` for the embedding of one of the batch's messages.
    The loaded handle is the writer's handle for the next cycle;

- ``maintenance_tick(..., keep_epochs=2)``. The round's cycles commit
  more than ``MAX_TOMBSTONE_COMMITS`` tombstone sets, so every tick folds
  and vacuums. After the fold the writer loads a fresh handle, untimed.

Output checks: a batch's parse failures equal its planted malformed
lines and every planted exact copy comes back paired at Jaccard 1.0; no
deleted id is ever served, and every served score is the query's dot
product with the latest upserted version of that id in the benchmark's
numpy model of the live set; once after the run, ``pairs_at()`` at the
tip equals the union of the per-batch pair sets.

The index directory is listed before and after every index operation; the
listings give bytes written, bytes a fold rewrote, file and commit-dir
counts, and the final space amplification.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np

import layout
from common import (
    LiveSet, Loop, clustered_unit_vectors, latency_metric, p50,
    per_cpu_s, search, vector_frame,
)

N_VECTORS = 4000
DIM = 64
N_CELLS = 32
K = 10
UPSERT_ROWS = 200
DELETE_ROWS = 50
KEEP_EPOCHS = 2
WRITES_PER_BATCH = 2
# every write cycle commits two tombstone sets (the upsert's and the
# delete's), so a round's tick always finds more than this many and folds
MAX_TOMBSTONE_COMMITS = 2 * WRITES_PER_BATCH - 1

BATCH_LINES = 1000
MAX_BATCHES = 24
MALFORMED_SHARE = 0.05
COPY_SHARE = 0.05
EDIT_SHARE = 0.05
# doc_id = (batch + 1) * ID_STRIDE + line number: above every id of the
# initial corpus, so a message's doc id is also its vector id
ID_STRIDE = 1_000_000


class ChatSynth:
    """Seeded chat lines; remembers which line copies which."""

    def __init__(self, rng):
        self.rng = rng
        syll = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "da", "ve",
                "xi", "bo", "ru", "fa", "ge", "hu", "ja", "ze", "wo", "ly"]
        words = {"".join(rng.choice(syll, rng.integers(2, 4)))
                 for _ in range(4000)}
        self.words = np.array(sorted(words))
        self.senders = [f"user_{i:02d}" for i in range(24)]
        self.ts = dt.datetime(2023, 1, 1, 8, 0, 0)
        self.messages: list[tuple[int, str]] = []  # (doc_id, message) parsed ok

    def _message(self) -> str:
        n = int(self.rng.integers(8, 21))
        # Zipf-like word choice: a few common words, a long tail
        idx = np.minimum(self.rng.zipf(1.3, n) - 1, len(self.words) - 1)
        return " ".join(self.words[idx])

    def batch(self, b: int):
        """``(lines, copies, n_malformed)``; ``copies`` lists the
        ``(original_doc_id, copy_doc_id)`` pairs planted in this batch."""
        lines, copies, malformed = [], [], 0
        for pos in range(BATCH_LINES):
            doc_id = (b + 1) * ID_STRIDE + pos
            self.ts += dt.timedelta(seconds=int(self.rng.integers(1, 300)))
            stamp = self.ts.strftime("[%d.%m.%y, %H:%M:%S]")
            sender = self.senders[int(self.rng.integers(len(self.senders)))]
            r = self.rng.random()
            if r < MALFORMED_SHARE:
                malformed += 1
                kind = int(self.rng.integers(3))
                msg = self._message()
                if kind == 0:  # a wrapped continuation line
                    lines.append(msg)
                elif kind == 1:  # a timestamp without seconds
                    lines.append(f"[{self.ts:%d.%m.%y %H:%M}] ~ {sender}: {msg}")
                else:  # no sender separator
                    lines.append(f"{stamp} ~ {sender} {msg}")
                continue
            if r < MALFORMED_SHARE + COPY_SHARE and self.messages:
                orig, msg = self.messages[int(self.rng.integers(len(self.messages)))]
                copies.append((orig, doc_id))
            elif r < MALFORMED_SHARE + COPY_SHARE + EDIT_SHARE and self.messages:
                _, msg = self.messages[int(self.rng.integers(len(self.messages)))]
                toks = msg.split(" ")
                toks[int(self.rng.integers(len(toks)))] = str(
                    self.words[int(self.rng.integers(len(self.words)))]
                )
                msg = " ".join(toks)
            else:
                msg = self._message()
            self.messages.append((doc_id, msg))
            lines.append(f"{stamp} ~ {sender}: {msg}")
        return lines, copies, malformed


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.embedder import with_embedding
    from whatsapp_vectordb_spark.operators.ann import IvfSq8Index, maintenance_tick
    from whatsapp_vectordb_spark.operators.dedup_index import MinHashDedupIndex
    from whatsapp_vectordb_spark.parse import parse_chat_lines

    tr, spark = ctx.tracer, ctx.spark
    rng = np.random.default_rng(ctx.seed)
    path = os.path.join(ctx.scratch, "ingest_index")
    shard_dir = os.path.join(ctx.scratch, "chat_shards")

    def shard(b):
        return os.path.join(shard_dir, f"batch-{b:04d}.txt")

    def ingest(b: int):
        with tr.span("dedup.read_text"):
            lines = spark.read.text(shard(b)).withColumn(
                "doc_id", F.monotonically_increasing_id() + (b + 1) * ID_STRIDE
            )
        with tr.span("parse.parse_chat_lines"):
            parsed = parse_chat_lines(lines, extra_cols=("doc_id",))
            parsed = parsed.localCheckpoint(eager=True)
            n_bad = parsed.where(~F.col("parse_ok")).count()
        t = time.perf_counter()
        with tr.span("embedder.with_embedding"):
            emb = with_embedding(
                parsed.where("parse_ok"), text_col="message", dim=DIM
            ).localCheckpoint(eager=True)
        embed_s = time.perf_counter() - t
        t = time.perf_counter()
        with tr.span("dedup_index.add_batch"):
            with tr.span("dedup_index.add_batch.call"):
                pairs_df = dedup.add_batch(
                    emb.select("doc_id", F.col("message").alias("text"))
                )
            with tr.span("dedup_index.add_batch.pairs"):
                pairs = {(r["id_a"], r["id_b"], r["jaccard"])
                         for r in pairs_df.collect()}
        return {"n_bad": n_bad, "pairs": pairs, "emb": emb,
                "add_batch_s": time.perf_counter() - t,
                "embed_rows_per_s": (BATCH_LINES - n_bad) / embed_s}

    stats = {"parse_fail": [], "embed_rows_per_s": [], "add_batch": [],
             "pairs": []}
    all_pairs: set = set()

    def check_batch(out, b):
        copies, malformed = planted[b]
        stats["parse_fail"].append(out["n_bad"] / BATCH_LINES)
        stats["embed_rows_per_s"].append(out["embed_rows_per_s"])
        stats["add_batch"].append(out["add_batch_s"])
        stats["pairs"].append(len(out["pairs"]))
        all_pairs.update(out["pairs"])
        problems = []
        if out["n_bad"] != malformed:
            problems.append(f"{out['n_bad']} parse failures, planted {malformed}")
        exact = {(a, c) for a, c, j in out["pairs"] if j == 1.0}
        missing = [p for p in copies if (min(p), max(p)) not in exact]
        if missing:
            problems.append(f"{len(missing)} planted copies not paired at 1.0")
        return problems

    def fresh_read(q):
        with tr.span("ann.IvfSq8Index.load"):
            h = IvfSq8Index.load(spark, path)
        return h, search(tr, h, q, K)

    t0 = time.perf_counter()
    centers = rng.standard_normal((N_CELLS, DIM))
    X = clustered_unit_vectors(rng, N_VECTORS, centers, noise=0.25)
    live = LiveSet(X, K)
    with tr.span("ann.IvfSq8Index.build"):
        built = IvfSq8Index.build(
            vector_frame(spark, np.arange(N_VECTORS), X), n_centroids=N_CELLS
        )
    with tr.span("ann.IvfSq8Index.save"):
        built.save(path, store_vectors=True)
    synth = ChatSynth(rng)
    os.makedirs(shard_dir)
    planted = []
    for b in range(MAX_BATCHES):
        lines, copies, malformed = synth.batch(b)
        with open(shard(b), "w") as f:
            f.write("\n".join(lines) + "\n")
        planted.append((copies, malformed))
    dedup = MinHashDedupIndex(spark, os.path.join(ctx.scratch, "dedup_index"))
    with tr.span("ann.IvfSq8Index.load"):
        idx = IvfSq8Index.load(spark, path)

    user_bytes = written = 0
    rewritten, commit_dirs, recall = [], [], []
    loop = Loop(tr, ctx.seconds)

    def accounted(kind, fn, check=None, alternate=True):
        """One loop op with the layout listed before and after it."""
        before = layout.listing(path)
        out = loop.op(kind, fn, check, alternate)
        return out, layout.bytes_written(before, layout.listing(path))

    def write_cycle(w: int, ids, vecs) -> None:
        """Upsert, delete and fresh read; cycle ``w`` upserts the batch's
        rows from ``w * UPSERT_ROWS`` on."""
        nonlocal idx, user_bytes, written
        half = UPSERT_ROWS // 2
        off = w * UPSERT_ROWS
        pick = rng.choice(np.fromiter(live.vecs, dtype=np.int64),
                          half + DELETE_ROWS, replace=False)
        up_ids = np.concatenate([ids[off:off + half], pick[:half]])
        up_vecs = vecs[off:off + UPSERT_ROWS]
        del_ids = pick[half:]

        def upsert():
            with tr.span("ann.IvfSq8Index.upsert"):
                idx.upsert(vector_frame(spark, up_ids, up_vecs), path=path)
            return True

        ok, nbytes = accounted("upsert", upsert)
        if ok:
            live.upsert(up_ids, up_vecs)
        user_bytes += len(up_ids) * DIM * 4
        written += nbytes

        def delete():
            with tr.span("ann.IvfSq8Index.delete"):
                idx.delete([int(i) for i in del_ids], path=path)
            return True

        ok, _ = accounted("delete", delete)
        if ok:
            live.delete(del_ids)

        commit_dirs.append(layout.commit_dirs(path))
        q = vecs[WRITES_PER_BATCH * UPSERT_ROWS + w].astype(np.float64)

        def check_read(res):
            hits = res[1]
            recall.append(len(live.exact_top(q) & {i for i, _ in hits}) / K)
            return live.check(hits, q)

        res, _ = accounted("fresh_read", lambda: fresh_read(q), check_read)
        if res is not None:
            idx = res[0]

    def batch_round(b: int, writes: int = WRITES_PER_BATCH,
                    tick: bool = True) -> None:
        nonlocal idx
        out = loop.op("ingest_batch", lambda: ingest(b),
                      lambda out: check_batch(out, b))
        if out is None:  # failed and counted; nothing to commit
            return
        with tr.untraced():
            rows = out["emb"].select("doc_id", "embedding").collect()
        ids = np.array([r["doc_id"] for r in rows], dtype=np.int64)
        vecs = np.array([r["embedding"] for r in rows], dtype=np.float32)
        for w in range(writes):
            write_cycle(w, ids, vecs)
        if not tick:
            return

        def fold_if_due():
            with tr.span("ann.maintenance_tick"):
                return maintenance_tick(
                    IvfSq8Index, spark, path,
                    max_tombstone_commits=MAX_TOMBSTONE_COMMITS,
                    keep_epochs=KEEP_EPOCHS,
                )

        # always traced: alternating would leave every fold untraced
        res, nbytes = accounted("maintenance_tick", fold_if_due,
                                 alternate=False)
        if res is not None and res["folded"]:
            loop.lat["fold"].append(loop.lat["maintenance_tick"][-1])
            rewritten.append(nbytes)
            # the writer's next commit goes through a handle on the folded tip
            with tr.untraced():
                idx = IvfSq8Index.load(spark, path)

    # warm-up: ingest_batch and one write cycle on shard 0, untimed,
    # counted in setup. Its commits stay: the first round's tick folds
    # them with its own
    batch_round(0, writes=1, tick=False)
    warm_up_failed = loop.failed
    tr.end_setup()
    loop = Loop(tr, ctx.seconds)
    for lst in (*stats.values(), rewritten, commit_dirs, recall):
        lst.clear()
    user_bytes = written = 0
    setup_s = time.perf_counter() - t0

    b = 0
    for _ in loop.rounds_left():
        b += 1
        if b == MAX_BATCHES:
            raise RuntimeError("out of chat shards: raise MAX_BATCHES")
        batch_round(b)

    # untimed: the tip's full verdict set is the union of the batch sets
    with tr.untraced():
        tip = {(r["id_a"], r["id_b"], r["jaccard"])
               for r in dedup.pairs_at().collect()}
    final = layout.listing(path)
    space_amp = layout.total_bytes(final) / (len(live.vecs) * DIM * 4)
    docs = sum(BATCH_LINES - planted[i][1] for i in range(1, b + 1))
    commit_ops = sum(len(loop.lat[k]) for k in
                     ("upsert", "delete", "maintenance_tick", "fresh_read"))
    return {
        "loop": loop,
        "setup_s": setup_s,
        "main_kind": "upsert",
        "e2e": {
            "main_op_cpu_s": p50(loop.cpu["upsert"]),
            "second_op_cpu_s": p50(loop.cpu["fresh_read"]),
            "work_per_cpu_s": per_cpu_s(docs, loop),
        },
        "named": {
            "upsert": latency_metric(loop.lat["upsert"]),
            "upsert_cpu_s": {"value": p50(loop.cpu["upsert"]), "unit": "s",
                             "n": len(loop.cpu["upsert"])},
            "fresh_read": latency_metric(loop.lat["fresh_read"]),
            "fresh_read_cpu_s": {"value": p50(loop.cpu["fresh_read"]),
                                 "unit": "s", "n": len(loop.cpu["fresh_read"])},
            "fold": latency_metric(loop.lat["fold"]),
            "mutate_ops_per_s": {"value": commit_ops / loop.window_s, "unit": "1/s"},
            "space_amp": {"value": space_amp, "unit": "ratio"},
            "dedup_docs_per_s": {"value": docs / loop.window_s, "unit": "1/s"},
            "docs_per_cpu_s": {"value": per_cpu_s(docs, loop), "unit": "1/cpu_s"},
            "add_batch": latency_metric(stats["add_batch"]),
            "ingest_batch": latency_metric(loop.lat["ingest_batch"]),
        },
        "layer": {
            "ann.layout.commit_dirs": p50(commit_dirs),
            "ann.layout.bytes_written_per_user_byte":
                written / user_bytes if user_bytes else 0.0,
            "ann.maintenance_tick.bytes_rewritten": p50(rewritten) if rewritten else 0.0,
            "ann.layout.files": len(final),
            "ann.layout.space_amp": space_amp,
            "ann.IvfSq8Index.search.recall_at_10": float(np.mean(recall)),
            "parse.fail_ratio": p50(stats["parse_fail"]),
            "embedder.rows_per_s": p50(stats["embed_rows_per_s"]),
            "dedup_index.pairs_per_batch": p50(stats["pairs"]),
            "dedup_index.committed_batches": len(dedup.snapshots()),
        },
        "checks": {
            "warm_up_round": warm_up_failed == 0,
            "pairs_at_tip_equals_union_of_batches": tip == all_pairs,
        },
    }
