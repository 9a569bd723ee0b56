"""Persistent MinHash dedup index — incremental near-dup detection.

Batch dedup (``minhash_near_duplicates``) recomputes the whole corpus
per run; a 100 TB ingest pipeline instead keeps the corpus's dedup state
on disk and checks each NEW batch against it:

- ``signatures`` parquet: per-doc band keys (docs × bands rows, two
  8-byte-ish columns) — the LSH candidate index;
- ``shingles`` parquet: per-doc 60-bit hashed shingle ids — the exact
  Jaccard verify input (the only per-token state, ~8 bytes/shingle).

On disk both tables live under ``batches/<uuid>/{signatures,shingles}``
— one dir per committed batch, committed with a single atomic dir
rename so the two tables can never be observed half-appended.

``add_batch`` computes the batch's keys/shingles once, finds candidate
pairs batch↔corpus AND batch↔batch by band-key equi-join, verifies
exact Jaccard on the stored shingle ids, then appends the batch's state
— so the index grows by O(batch), never rescanning the corpus, and the
scan side of the candidate join is the narrow band-key table, not
documents. Exactly the same hash pipeline as the batch operator, so
results match it bit-for-bit (asserted in tests/test_dedup_index.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from whatsapp_vectordb_spark.commitlog import (
    _commit,
    _fsck,
    _gc_staging,
    _parse_seq,
    _writer_lease,
)
from whatsapp_vectordb_spark.session import local_df
from pyspark.sql import functions as F

from whatsapp_vectordb_spark.operators.dedup import (
    _hashed_shingles,
    _signatures_from_hashed,
    _verify_jaccard,
)


class _BatchDirIndex:
    """Shared machinery for indexes whose state accretes as ATOMIC
    ``batches/<seq>_<uuid>`` directory commits: live-dir listing with
    ``replaces.json`` manifest supersession, the count+xxhash64-XOR
    content fingerprint, the checksum-gated single-rename ``compact()``,
    commit-seq TIME TRAVEL (``as_of`` bounds on every state read — a
    compaction RETAINS the dirs it supersedes, invisible to tip reads
    by manifest, until ``vacuum()`` reclaims them; r16 verdict #4), and
    the ``maintenance_tick`` compaction policy. Subclasses set
    ``_TABLES`` (the table subdirs committed together in each batch
    dir) and implement their own ``add_batch``."""

    _TABLES: tuple[str, ...] = ()

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    @property
    def _batches_path(self) -> str:
        return os.path.join(self.path, "batches")

    def _all_batch_dirs(self) -> list[str]:
        root = self._batches_path
        if not os.path.exists(root):
            return []
        return [
            b
            for b in sorted(os.listdir(root))
            if os.path.isdir(os.path.join(root, b))
        ]

    def snapshots(self) -> list[int]:
        """Readable time-travel bounds: every commit seq still on disk
        (retained-dead dirs count — that is what retention is for),
        ascending, 0 prepended (the empty pre-ingest state). A bound
        older than what ``vacuum`` kept raises at read time."""
        return sorted(
            {0} | {_parse_seq(b) for b in self._all_batch_dirs()}
        )

    def _live_batch_dirs(self, as_of: int | None = None) -> list[str]:
        """Batch dir names LIVE at the tip (default) or at commit bound
        ``as_of``: dirs with seq <= the bound, minus every dir a
        manifest visible AT THAT BOUND declares dead. A compacted dir
        carries the manifest of the dirs it merged; the moment its
        single commit rename lands, the replaced dirs are dead to TIP
        readers even while still on disk — but a bound BEFORE the
        compaction ignores its manifest and reads the retained dirs
        (time travel through compaction). Manifests from dead dirs
        still apply — a chain of compactions must keep every
        transitively-replaced dir dead.

        VACUUM TRIPWIRE: if a manifest names a dir that is gone from
        disk yet would be LIVE at this bound (named only by manifests
        NEWER than the bound), the bound's history was vacuumed —
        raise instead of silently serving a partial state."""
        dirs = self._all_batch_dirs()
        on_disk = set(dirs)
        if as_of is not None:
            dirs = [b for b in dirs if _parse_seq(b) <= as_of]
        dead = self._dead_names(as_of)
        if as_of is not None:
            vanished = self._dead_names(None) - on_disk
            lost = [
                v
                for v in vanished
                if _parse_seq(v) <= as_of and v not in dead
            ]
            if lost:
                raise ValueError(
                    f"as_of={as_of} is no longer readable at {self.path!r}: "
                    f"vacuum reclaimed commits this bound needs ({sorted(lost)}); "
                    "re-read snapshots() for the retained bounds"
                )
        return [b for b in dirs if b not in dead]

    def _dead_names(self, as_of: int | None = None) -> set[str]:
        """Every name declared dead by a manifest visible at the bound
        (manifests in dirs with seq > ``as_of`` do not apply — their
        compaction had not happened yet)."""
        import json as _json

        root = self._batches_path
        dead: set[str] = set()
        if not os.path.exists(root):
            return dead
        for b in os.listdir(root):
            if as_of is not None and _parse_seq(b) > as_of:
                continue
            man = os.path.join(root, b, "replaces.json")
            if os.path.exists(man):
                try:
                    with open(man) as f:
                        dead.update(_json.load(f))
                except (OSError, ValueError):
                    pass  # unreadable manifest: treat as a plain batch dir
        return dead

    def _gc_dead_batches(self) -> None:
        """Delete batch dirs superseded by a committed compaction (they
        are invisible to ``_live_batch_dirs`` already — this only
        reclaims bytes; crash-safe at any point)."""
        import shutil

        root = self._batches_path
        if not os.path.exists(root):
            return
        live = set(self._live_batch_dirs())
        for b in os.listdir(root):
            full = os.path.join(root, b)
            if os.path.isdir(full) and b not in live:
                shutil.rmtree(full, ignore_errors=True)

    @staticmethod
    def _content_fingerprint(df: DataFrame) -> tuple[int, int]:
        """(row count, order-insensitive XOR of per-row xxhash64) — the
        compaction invariant check. Count catches cardinality drift
        (XOR alone would cancel an exact duplication); XOR catches
        content swaps at equal cardinality."""
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "coalesce(bit_xor(xxhash64(" + ", ".join(df.columns) + ")), 0)"
            ).alias("x"),
        ).collect()[0]
        return int(row["n"]), int(row["x"])

    def _stored(self, which: str, as_of: int | None = None) -> DataFrame | None:
        """Union of table ``which`` across batch dirs LIVE at the tip
        (default) or at time-travel bound ``as_of`` (see
        ``_live_batch_dirs``). A batch dir only exists once its single
        commit rename succeeded, so everything listed here is complete —
        all tables, all files."""
        root = self._batches_path
        paths = [
            os.path.join(root, b, which)
            for b in self._live_batch_dirs(as_of)
            if os.path.isdir(os.path.join(root, b, which))
            and any(
                f.endswith(".parquet")
                for f in os.listdir(os.path.join(root, b, which))
            )
        ]
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    def _commit_batch(self, frames: dict[str, DataFrame]) -> None:
        """Stage every table of one batch, then commit with ONE atomic
        directory rename into ``batches/<seq>_<uuid>`` (``commitlog.
        _commit``, under the writer lease) — the tables become visible
        together or not at all."""
        from whatsapp_vectordb_spark.operators.ann import _run_writes

        def write(stage: str, seq: int) -> None:
            # one commit's tables are independent jobs over pinned
            # inputs — run them concurrently (guide §2.6), and let
            # REBALANCE coalesce each to advisory-size files instead of
            # one tiny file per upstream task (guide §6)
            _run_writes(
                [
                    (
                        lambda w=which, d=df: d.hint("rebalance")
                        .write.mode("overwrite")
                        .parquet(os.path.join(stage, w))
                    )
                    for which, df in frames.items()
                ]
            )

        _commit(self.path, "add_batch", write, self._all_batch_dirs)

    def compact(self) -> int:
        """Merge every live ``batches/<uuid>`` dir into ONE — the
        maintenance verb the per-micro-batch atomic commit needs (at
        streaming cadence one dir lands per trigger; file/dir LISTING is
        what degrades first, the data itself is fine). Returns the
        number of dirs merged (0 = nothing to do).

        Same atomicity as ``add_batch``: the merged tables stage under
        ``_staging/<uuid>`` together with a ``replaces.json`` manifest
        naming the dirs they supersede, then ONE ``os.rename`` publishes
        the compacted dir — readers switch from N dirs to 1 atomically,
        and a crash at ANY point leaves a readable, correct index (old
        dirs until the rename; merged dir after, with replaced dirs dead
        by manifest even if their deletion never ran). Before the
        rename, a content-checksum invariant (count + xxhash64 XOR per
        table) verifies the staged data equals the live union —
        mismatch aborts with the old state intact. Mirrors
        ``VectorIndex.compact`` (index.py) for the vector table.

        RETENTION (r17): the superseded dirs are NOT deleted — dead by
        manifest for tip readers, they are exactly the snapshots a
        time-travel bound before this compaction reads; ``vacuum()`` is
        the explicit reclaim verb (the serving layouts' fold/vacuum
        split). Runs under the writer lease. Live dirs that hold no
        parquet for any table leave nothing to merge: 0, nothing
        published."""
        import json as _json

        with _writer_lease(self.path, "compact"):
            live = self._live_batch_dirs()
            if len(live) <= 1:
                return 0
            before = {
                which: self._content_fingerprint(df)
                for which in self._TABLES
                if (df := self._stored(which)) is not None
            }
            if not before:
                return 0

            def write(stage: str, seq: int) -> None:
                for which in before:
                    self._stored(which).write.mode("overwrite").parquet(
                        os.path.join(stage, which)
                    )
                # TRANSITIVE manifest: carry forward every already-dead
                # name too — otherwise GC deleting an older compact dir
                # (whose manifest was keeping a failed-rmtree survivor
                # dead) before that survivor would resurrect it as live
                # state
                with open(os.path.join(stage, "replaces.json"), "w") as f:
                    _json.dump(sorted(set(live) | self._dead_names()), f)
                for which, fp in before.items():
                    staged = self.spark.read.parquet(os.path.join(stage, which))
                    if self._content_fingerprint(staged) != fp:
                        raise RuntimeError(
                            f"compaction checksum mismatch on {which!r}: "
                            "staged content differs from the live union — "
                            "aborting with the old state intact"
                        )

            _commit(self.path, "compact", write, self._all_batch_dirs)
            return len(live)

    def vacuum(self) -> None:
        """Reclaim compaction-superseded batch dirs and orphaned staging
        — the explicit retention-expiry verb (r17): until it runs,
        every pre-compaction commit stays readable via
        ``_stored(..., as_of)``; after it, those bounds raise loudly at
        read time (the ``_live_batch_dirs`` vacuum tripwire). Under the
        writer lease — racing a compaction could delete the dir it is
        mid-publishing against."""
        with _writer_lease(self.path, "vacuum"):
            _gc_staging(self.path)
            self._gc_dead_batches()

    def maintenance_tick(self, max_live_dirs: int = 8) -> dict:
        """ONE compaction-policy decision — the verb a background
        maintenance loop runs per index per interval (the serving
        layouts' ``maintenance_tick`` contract): poll the live dir
        count (one listdir + manifest reads, no Spark job); compact
        when it exceeds ``max_live_dirs`` (dir LISTING is what degrades
        at streaming cadence, one dir lands per trigger). Retention
        untouched — ``vacuum`` stays a separate decision. Runs under
        the writer lease end-to-end (poll→compact TOCTOU)."""
        with _writer_lease(self.path, "maintenance_tick"):
            before = len(self._live_batch_dirs())
            merged = self.compact() if before > max_live_dirs else 0
            return {
                "compacted": merged > 0,
                "live_dirs_before": before,
                "live_dirs_after": len(self._live_batch_dirs()),
            }


    def verify(self, deep: bool = False) -> dict:
        """FSCK for a batch-dir dedup index — the dedup twin of the
        serving layouts' ``verify_layout`` (one read-only verb, every
        violation at once; same error/warning split):

        errors: duplicate commit seqs across state dirs (a raced
        writer — the ``_writer.lock`` lease exists to prevent it; reads
        cannot order equal seqs). warnings: orphaned ``_staging``
        entries, a stale writer lease, unreadable ``replaces.json``
        manifests (reads degrade them to plain batch dirs — flagged
        because a half-written manifest usually means an interrupted
        compaction publish).

        ``deep=True`` adds the RETENTION-CONSISTENCY replay, phrased
        entirely in public time-travel semantics: a compaction commit
        adds no data, so for every live dir carrying a manifest the
        per-table content fingerprint at bound ``seq`` must equal the
        bound ``seq - 1`` just before it — i.e. the retained victims
        still reproduce exactly what their compaction published. A
        bound already vacuumed skips with a note (nothing left to
        compare), never a false error. Metadata walk takes no lease —
        safe against a live writer (worst case a transient flag)."""
        import json as _json

        errors: list[str] = []
        warnings: list[str] = []
        info: dict = {"path": self.path}

        dirs = self._all_batch_dirs()
        info["state_dirs"] = len(dirs)
        _fsck(self.path, dirs, errors, warnings, info)
        for b in dirs:
            man = os.path.join(self._batches_path, b, "replaces.json")
            if os.path.exists(man):
                try:
                    with open(man) as f:
                        _json.load(f)
                except (OSError, ValueError):
                    warnings.append(
                        f"unreadable replaces.json in {b!r} — reads "
                        "treat it as a plain batch dir (interrupted "
                        "compaction publish?)"
                    )

        if deep and not errors:
            checked = []
            for b in self._live_batch_dirs():
                if not os.path.exists(
                    os.path.join(self._batches_path, b, "replaces.json")
                ):
                    continue
                s = _parse_seq(b)
                for which in self._TABLES:
                    try:
                        at = self._stored(which, as_of=s)
                        before = self._stored(which, as_of=s - 1)
                    except ValueError:
                        checked.append((s, which, "vacuumed — skipped"))
                        continue
                    fp_at = (
                        self._content_fingerprint(at)
                        if at is not None
                        else (0, 0)
                    )
                    fp_before = (
                        self._content_fingerprint(before)
                        if before is not None
                        else (0, 0)
                    )
                    if fp_at != fp_before:
                        errors.append(
                            f"compaction commit seq {s} table {which!r}: "
                            f"content fingerprint {fp_at} differs from "
                            f"the pre-compaction bound {fp_before} — the "
                            "retained victims no longer reproduce what "
                            "the compaction published"
                        )
                    else:
                        checked.append((s, which, "ok"))
            info["deep_checked"] = checked

        return {"ok": not errors, "errors": errors,
                "warnings": warnings, "info": info}


class MinHashDedupIndex(_BatchDirIndex):
    _TABLES = ("signatures", "shingles")

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_hashes: int = 16,
        bands: int = 4,
        shingle_n: int = 3,
        threshold: float = 0.5,
    ):
        super().__init__(spark, path)
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        self.threshold = threshold

    def _banded_from_hashed(self, sh: DataFrame) -> DataFrame:
        """Banded keys derived from a ``(doc_id, _x1, _x2, _h)`` hashed-
        shingle frame (signature mins + band-key md5 — pure derivation,
        no new source reads)."""
        sig = _signatures_from_hashed(sh, "doc_id", self.num_hashes)
        r = self.num_hashes // self.bands
        band_structs = [
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"s{i}").cast("string")
                            for i in range(b * r, (b + 1) * r)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(self.bands)
        ]
        return sig.select(
            "doc_id", F.explode(F.array(*band_structs)).alias("bk")
        ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))

    def add_batch(
        self,
        batch: DataFrame,
        id_col: str = "doc_id",
        pairs_path: str | None = None,
        batch_key=None,
    ) -> DataFrame:
        """Dedup-check ``batch`` against the stored corpus AND itself, then
        fold it into the index. Returns verified near-dup pairs
        ``(id_a, id_b, jaccard)`` where at least one side is a batch doc;
        pairs order (id_a < id_b) regardless of which side is new.

        ``pairs_path`` + ``batch_key``: same durability contract as
        ``WinnowDedupIndex.add_batch`` — pairs land durably in
        ``pairs_path/batch_id=<batch_key>`` BEFORE the state appends
        commit, and a post-commit retry (whose anti-join recomputes an
        empty pair set) never clobbers the committed batch's pair file.
        Without it, callers must persist the returned pairs before
        acknowledging the batch, or a crash-after-commit retry silently
        loses them.

        Re-ingest-safe: doc_ids already in the index are anti-joined out of
        the batch before anything is computed — without this, re-running a
        failed/duplicate ingest would double-count the doc's shingles in
        the Jaccard COUNT(*) sizes and silently corrupt every future pair
        involving it. Crash-safe (ADVICE r12): both tables are staged
        under ONE batch directory and committed with a SINGLE atomic
        ``os.rename`` of that directory — signatures and shingles become
        visible together or not at all, so there is no window where a doc
        has band rows without its shingles (anti-joined out forever with
        a broken verify side) or shingles without its signatures
        (re-ingested and double-counted).

        The returned pairs are LAZY but PINNED (r18): every input of the
        pair plan is immutable — the batch's hashed shingles are eagerly
        localCheckpointed (which also pins the re-ingest anti-join
        against the pre-commit state), and the stored side reads the
        pre-commit batch dirs by explicit path; the append below only
        ADDS a sibling dir, so consuming the result at any later point
        (after further ingests, after a compaction — compaction RETAINS
        its victims) computes exactly this batch's verified pair set.
        The candidate join + Jaccard verify therefore run only when the
        pairs are actually consumed — an ingest whose caller never reads
        them (or reads them from ``pairs_path``) never pays for them.
        Only ``vacuum()`` can invalidate an unconsumed result, loudly
        (the referenced dirs disappear): consume or persist returned
        pairs before vacuuming, as the durability contract already
        requires."""
        # ONE read of the stored signatures serves both the re-ingest
        # anti-join and the candidate join's stored side (r18 — the
        # second _stored("signatures") paid a second listing + schema
        # inference per ingest for an identical frame)
        stored_banded = self._stored("signatures")
        if stored_banded is not None:
            batch = batch.join(
                stored_banded.select(F.col("doc_id").alias(id_col)).dropDuplicates(),
                id_col,
                "left_anti",
            )
        # ONE eager pin of the expensive map work (tokenize + shingle +
        # md5); signatures, band keys, commit writes and the pair verify
        # all derive from these blocks without touching live state again
        sh_new = (
            _hashed_shingles(batch, "text", id_col, self.shingle_n)
            .select(F.col(id_col).alias("doc_id"), "_x1", "_x2", "_h")
            .localCheckpoint(eager=True)
        )
        banded_new = self._banded_from_hashed(sh_new)

        stored_sh = self._stored("shingles")
        all_banded = (
            banded_new
            if stored_banded is None
            else stored_banded.unionByName(banded_new)
        )
        all_sh = sh_new if stored_sh is None else stored_sh.unionByName(sh_new)

        a = banded_new.alias("a")  # new side drives the probe
        b = all_banded.alias("b")
        cand = (
            a.join(
                b,
                on=[
                    F.col("a.band") == F.col("b.band"),
                    F.col("a.band_key") == F.col("b.band_key"),
                    F.col("a.doc_id") != F.col("b.doc_id"),
                ],
            )
            .select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_a"),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        pairs = _verify_jaccard(
            cand, all_sh.select(F.col("doc_id"), "_h"), "doc_id", self.threshold, 6
        )
        if pairs_path is not None:
            if batch_key is None:
                raise ValueError("pairs_path requires a stable batch_key")
            dest = os.path.join(pairs_path, f"batch_id={batch_key}")
            if not sh_new.isEmpty() or not os.path.exists(dest):
                pairs.hint("rebalance").write.mode("overwrite").parquet(dest)
        self._commit_batch({"signatures": banded_new, "shingles": sh_new})
        return pairs

    def pairs_at(self, as_of: int | None = None) -> DataFrame:
        """The index's FULL verdict set — every verified near-dup pair
        ``(id_a, id_b, jaccard)`` derivable from the state committed at
        bound ``as_of`` (tip when None): band-key candidates within the
        bounded signatures, exact Jaccard on the bounded shingles. This
        is the time-travel read (r16 verdict #4): "which docs did
        yesterday's corpus consider duplicates, and why" replayed from
        retained commits — equal to the union of the per-batch
        ``add_batch`` pair sets through that commit (documents are
        immutable, so a pair exists iff both members' state is in the
        bound — the same argument as the union-of-batches ≡ one-shot
        invariant)."""
        banded = self._stored("signatures", as_of)
        if banded is None:
            return local_df(self.spark, 
                [], "id_a long, id_b long, jaccard double"
            )
        sh = self._stored("shingles", as_of)
        a, b = banded.alias("a"), banded.alias("b")
        cand = (
            a.join(
                b,
                on=[
                    F.col("a.band") == F.col("b.band"),
                    F.col("a.band_key") == F.col("b.band_key"),
                    F.col("a.doc_id") < F.col("b.doc_id"),
                ],
            )
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        return _verify_jaccard(
            cand, sh.select("doc_id", "_h"), "doc_id", self.threshold, 6
        )


class WinnowDedupIndex(_BatchDirIndex):
    """Persistent winnowing-fingerprint index — incremental SUBSTRING-level
    dedup, the ingest-time twin of ``winnow_duplicate_pairs`` exactly as
    ``MinHashDedupIndex`` is the twin of ``minhash_near_duplicates``.

    State is ONE table ``fingerprints`` per committed batch dir
    (``batches/<seq>_<uuid>/fingerprints/``): the selected
    ``(doc_id, fp_pos, fp_hash)`` rows — ~10-20 rows/doc at the default
    k=5/w=4 (the winnowing density is ~2/(w+1) of shingles), so the
    stored index is orders of magnitude smaller than the shingle state
    the MinHash index must keep for Jaccard verification; winnowing
    needs no verify table because each shared hash IS the evidence (a
    shared ≥k-token run). Commits, compaction, retention, vacuum,
    ``maintenance_tick`` and ``verify`` are the inherited batch-dir
    machinery.

    ``add_batch`` computes the batch's fingerprints once, probes
    batch↔corpus and batch↔batch via the fp_hash equi-join (inverted
    index, never O(n²)), and appends only the batch's rows — O(batch)
    growth, the corpus is never rescanned. Documents are immutable, so a
    pair is discovered exactly when its LATER member is ingested, with
    the earlier member's fingerprints already stored — hence the union
    of per-batch pair sets equals the one-shot batch operator
    bit-for-bit (asserted in tests). ``max_df`` is deliberately not
    offered here: an incremental df changes as the corpus grows, which
    would break that batch-equality contract; apply hot-fingerprint
    filtering downstream if needed.
    """

    _TABLES = ("fingerprints",)

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        k: int = 5,
        w: int = 4,
        min_shared: int = 2,
    ):
        super().__init__(spark, path)
        self.k = k
        self.w = w
        self.min_shared = min_shared

    def pairs_at(self, as_of: int | None = None) -> DataFrame:
        """The index's FULL verdict set at commit bound ``as_of`` (tip
        when None): every pair sharing >= ``min_shared`` winnowing
        fingerprints within the bounded state — the substring tier's
        time-travel read (r16 verdict #4), equal to the union of the
        per-batch ``add_batch`` pair sets through that commit (documents
        immutable — the union-of-batches ≡ one-shot argument)."""
        fp = self._stored("fingerprints", as_of)
        if fp is None:
            return local_df(self.spark, 
                [], "id_a long, id_b long, n_shared long"
            )
        d = fp.select("doc_id", "fp_hash").distinct()
        a, b = d.alias("a"), d.alias("b")
        return (
            a.join(
                b,
                on=[
                    F.col("a.fp_hash") == F.col("b.fp_hash"),
                    F.col("a.doc_id") < F.col("b.doc_id"),
                ],
            )
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
            )
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_shared"))
            .where(F.col("n_shared") >= self.min_shared)
        )

    def add_batch(
        self,
        batch: DataFrame,
        id_col: str = "doc_id",
        pairs_path: str | None = None,
        batch_key=None,
    ) -> DataFrame:
        """Returns the verified pairs ``(id_a, id_b, n_shared)`` with at
        least one batch-side member, then folds the batch in. Re-ingest
        safe (already-stored ids are anti-joined out) and crash safe
        (staged write + single dir rename).

        DURABILITY CONTRACT (ADVICE r11): the fingerprint append commits
        at the END of this call, and once it commits a retry anti-joins
        the batch's docs out — so pairs returned lazily to a caller that
        crashes AFTER this call but BEFORE persisting them are gone (the
        retry sees an already-ingested batch and returns an empty set).
        Two ways to hold the union-of-batches ≡ one-shot guarantee across
        retries:

        * pass ``pairs_path`` (+ a stable ``batch_key``, e.g. the
          foreachBatch batch_id): pairs are then written durably to
          ``pairs_path/batch_id=<batch_key>`` BEFORE the append commits,
          and a post-commit retry (which recomputes an empty pair set)
          will NOT clobber the committed batch's pair file. Consumers
          read ``pairs_path``; the return value is best-effort on retry.
        * or treat the returned pairs as part of the batch's output
          transaction: persist them durably before acknowledging the
          batch anywhere.

        The returned pairs are LAZY but PINNED (r18, same contract as
        the MinHash index): the batch's fingerprints are eagerly
        localCheckpointed (pinning the re-ingest anti-join too) and the
        stored side reads the pre-commit batch dirs by explicit path —
        the append only ADDS a dir, so a later consumption (after
        further ingests or a compaction) computes exactly this batch's
        pair set; the fingerprint join + n_shared count run only when
        the pairs are consumed. Only ``vacuum()`` can invalidate an
        unconsumed result, loudly.
        """
        from whatsapp_vectordb_spark.operators.dedup import winnow_fingerprints

        stored = self._stored("fingerprints")
        if stored is not None:
            batch = batch.join(
                stored.select(F.col("doc_id").alias(id_col)).dropDuplicates(),
                id_col,
                "left_anti",
            )
        fp_new = (
            winnow_fingerprints(batch, id_col=id_col, k=self.k, w=self.w)
            .select(F.col(id_col).alias("doc_id"), "fp_pos", "fp_hash")
            .localCheckpoint(eager=True)
        )
        all_fp = fp_new if stored is None else stored.unionByName(fp_new)

        a = fp_new.select("doc_id", "fp_hash").distinct().alias("a")
        b = all_fp.select("doc_id", "fp_hash").distinct().alias("b")
        pairs = (
            a.join(
                b,
                on=[
                    F.col("a.fp_hash") == F.col("b.fp_hash"),
                    F.col("a.doc_id") != F.col("b.doc_id"),
                ],
            )
            .select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_a"),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_b"),
                F.col("a.fp_hash").alias("fp_hash"),
            )
            .dropDuplicates(["id_a", "id_b", "fp_hash"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_shared"))
            .where(F.col("n_shared") >= self.min_shared)
        )
        if pairs_path is not None:
            if batch_key is None:
                raise ValueError("pairs_path requires a stable batch_key")
            dest = os.path.join(pairs_path, f"batch_id={batch_key}")
            # post-commit retry guard: if the whole batch was already
            # ingested (crash after both commits), fp_new is empty and
            # pairs with it — keep the committed attempt's pair file
            # rather than clobbering it with the empty recompute
            if not fp_new.isEmpty() or not os.path.exists(dest):
                pairs.hint("rebalance").write.mode("overwrite").parquet(dest)
        self._commit_batch({"fingerprints": fp_new})
        return pairs


class SemDedupIndex(_BatchDirIndex):
    """Persistent SEMANTIC dedup index — the embedding tier of the
    incremental index family (MinHash = document, Winnow = substring,
    SemDedup = semantic), the ingest-time twin of ``ann.semdedup``
    exactly as ``MinHashDedupIndex`` twins ``minhash_near_duplicates``.

    State per committed batch dir (atomic single-rename, inherited):

    - ``kept``: the surviving representatives ``(vec_id, embedding,
      centroid, cent_sim)`` — the ε-net cover new rows must clear;
    - ``ids``: every ingested id (kept or not) — the re-ingest
      anti-join key (without it a replayed batch would re-elect
      against a corpus that already judged it).

    ELECTION (first-decision-wins greedy, an explicit divergence from
    the batch operator): history is totally ordered by
    ``(batch_no, cent_sim ASC, vec_id ASC)`` — all stored rows precede
    all batch rows — and a row is KEPT iff no EARLIER **KEPT** row in
    its cluster has rounded cosine ≥ τ to it. The batch operator's
    election instead lets ANY earlier row (kept or removed) dominate.
    Greedy is the right ingest-time semantics: decisions are final
    (a stored representative is never retroactively removed by a later
    arrival, so the stored state is append-only), and the kept set is
    an ε-net — every removed row is within τ of a LIVE representative,
    which the batch rule does not guarantee. Both are SemDeDup-paper
    variants (Abbas et al. 2023 §3 discusses keeper choice freedom).

    UNIQUENESS (the oracle's lever): the greedy outcome is the unique
    kept-assignment where (a) every removed row has an earlier-ranked
    kept row within τ, and (b) no kept row does — by induction over the
    rank order, each row's flag is forced by the earlier flags. So a
    NON-recursive checker (one pair join against the persisted flags)
    that re-derives ``kept = NOT EXISTS earlier kept row within τ``
    reproduces the flags exactly iff the index elected correctly — any
    wrong flag breaks the equality at the first divergent rank. The
    registry oracle (``dedup_semdedup_index``) is exactly that checker.

    Scale shape: the coarse quantizer freezes after the FIRST batch
    (persisted in ``meta.json``, temp+rename atomic); each batch is one
    map-only assign, ONE cogroup shuffle on the centroid key (batch
    rows meet their cluster's stored representatives — never the whole
    corpus), and a per-cluster numpy greedy bounded by
    |cluster batch| + |cluster kept|. Grow ``n_clusters`` with the
    corpus as the batch operator does."""

    _TABLES = ("kept", "ids")

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        threshold: float = 0.95,
        n_clusters: int = 8,
        round_to: int = 6,
        iters: int = 5,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        super().__init__(spark, path)
        self.threshold = threshold
        self.n_clusters = n_clusters
        self.round_to = round_to
        self.iters = iters
        self.id_col = id_col
        self.vec_col = vec_col

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.path, "meta.json")

    def _load_centroids(self):
        import json as _json

        import numpy as np

        if not os.path.exists(self._meta_path):
            return None
        with open(self._meta_path) as f:
            return np.asarray(_json.load(f)["centroids"], dtype=np.float64)

    def _save_centroids(self, centroids) -> None:
        """Atomic temp+rename publish (the IvfSq8Index meta contract):
        the quantizer is frozen the moment the first batch commits, and
        a crash can never leave a readable index with a half-written
        centroid matrix."""
        import json as _json
        import uuid

        # tmp lives under _staging so a crash-orphaned file is swept by
        # the same GC that cleans orphaned batch stages
        stag = os.path.join(self.path, "_staging")
        os.makedirs(stag, exist_ok=True)
        tmp = os.path.join(stag, f"_meta_{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            _json.dump({"centroids": [list(map(float, c)) for c in centroids]}, f)
        os.rename(tmp, self._meta_path)

    def add_batch(
        self,
        batch: DataFrame,
        results_path: str | None = None,
        batch_key=None,
    ) -> DataFrame:
        """Elect ``batch`` against the stored representatives AND itself,
        then fold the survivors in. Returns every batch row as
        ``(vec_id, centroid, cent_sim, kept)``; re-ingest-safe
        (already-seen ids anti-joined out) and crash-safe (both state
        tables commit with one rename; the returned frame is pinned
        before the commit so a lazily-consumed result can never read
        the post-append state).

        ``results_path`` + ``batch_key``: same durability contract as
        the MinHash/Winnow indexes' ``pairs_path`` — the batch's flags
        land durably in ``results_path/batch_id=<batch_key>`` BEFORE
        the state commit, and a post-commit retry (whose anti-join
        yields an empty result) never clobbers the committed batch's
        flag file. Without it, persist the returned flags before
        acknowledging the batch."""
        import numpy as np

        from whatsapp_vectordb_spark.operators.ann import (
            IvfIndex,
            assign_nearest_centroid,
        )

        cents = self._load_centroids()
        if cents is None:
            proto = IvfIndex.build_balanced(
                batch,
                n_centroids=self.n_clusters,
                id_col=self.id_col,
                vec_col=self.vec_col,
                iters=self.iters,
            )
            cents = np.asarray(proto.centroids, dtype=np.float64)
            self._save_centroids(cents)
        seen = self._stored("ids")
        if seen is not None:
            batch = batch.join(
                seen.select(F.col("vec_id").alias(self.id_col)).dropDuplicates(),
                self.id_col,
                "left_anti",
            )
        assigned = assign_nearest_centroid(batch, cents, self.vec_col).select(
            self.id_col, self.vec_col, F.col("centroid").cast("int").alias("centroid")
        )
        stored_kept = self._stored("kept")
        if stored_kept is None:
            stored_kept = local_df(self.spark, 
                [], f"vec_id long, embedding array<double>, centroid int, cent_sim double"
            )
        tau, rt = float(self.threshold), int(self.round_to)
        icol, vcol = self.id_col, self.vec_col
        id_type = batch.schema[icol].dataType.simpleString()
        cmat = cents

        def greedy(batch_pdf, kept_pdf):
            import pandas as pd

            from whatsapp_vectordb_spark.operators.search import _round_half_up

            if len(batch_pdf) == 0:
                return pd.DataFrame(
                    {icol: [], "centroid": [], "cent_sim": [], "kept": []}
                )
            ids = batch_pdf[icol].to_numpy()
            m = np.vstack(batch_pdf[vcol].to_numpy()).astype(np.float64)
            cid = int(batch_pdf["centroid"].iloc[0])
            norms = np.linalg.norm(m, axis=1)
            mn = m / np.where(norms == 0.0, 1.0, norms)[:, None]
            c = cmat[cid]
            cn = c / (np.linalg.norm(c) or 1.0)
            # HALF_UP like F.round / the DuckDB certificate oracle —
            # numpy's half-to-even could flip a flag on a grid-exact tie
            cs = _round_half_up(mn @ cn, rt)
            dim = mn.shape[1]
            n_stored = len(kept_pdf)
            # representatives live in ONE preallocated growing matrix —
            # rebuilding an array from a python list per candidate row
            # would copy the whole rep matrix O(|batch|) times
            cap = max(16, n_stored + len(ids))
            reps = np.empty((cap, dim), dtype=np.float64)
            if n_stored:
                sm = np.vstack(kept_pdf["embedding"].to_numpy()).astype(np.float64)
                reps[:n_stored] = sm / np.maximum(
                    np.linalg.norm(sm, axis=1), 1e-300
                )[:, None]
            n_reps = n_stored
            kept = np.zeros(len(ids), dtype=bool)
            for g in np.lexsort((ids, cs)):  # (cent_sim ASC, id ASC)
                v = mn[g]
                if n_reps and (
                    _round_half_up(reps[:n_reps] @ v, rt) >= tau
                ).any():
                    continue  # dominated by a LIVE representative
                kept[g] = True
                reps[n_reps] = v
                n_reps += 1
            return pd.DataFrame(
                {icol: ids, "centroid": np.int32(cid), "cent_sim": cs, "kept": kept}
            )

        res = (
            assigned.groupBy("centroid")
            .cogroup(stored_kept.groupBy("centroid"))
            .applyInPandas(
                greedy,
                schema=f"{icol} {id_type}, centroid int, cent_sim double, kept boolean",
            )
        )
        # pin BEFORE the append mutates the stored dirs (the MinHash
        # index's documented lazily-read-state hazard)
        res = res.localCheckpoint(eager=True)
        empty = res.isEmpty()
        if results_path is not None:
            if batch_key is None:
                raise ValueError("results_path requires a stable batch_key")
            dest = os.path.join(results_path, f"batch_id={batch_key}")
            # post-commit retry guard: keep the committed attempt's flag
            # file rather than clobbering it with the empty recompute
            if not empty or not os.path.exists(dest):
                res.hint("rebalance").write.mode("overwrite").parquet(dest)
        if empty:
            return res  # fully anti-joined replay: no state to commit
        kept_rows = (
            res.where("kept")
            .select(icol, "centroid", "cent_sim")
            .join(batch.select(icol, vcol), icol)
            .select(
                F.col(icol).alias("vec_id"),
                F.col(vcol).cast("array<double>").alias("embedding"),
                "centroid",
                "cent_sim",
            )
        )
        ids_df = assigned.select(F.col(icol).alias("vec_id"))
        self._commit_batch({"kept": kept_rows, "ids": ids_df})
        return res

    def verdicts_at(self, as_of: int | None = None) -> DataFrame:
        """The index's VERDICT SET at commit bound ``as_of`` (tip when
        None): every id the index had judged by that commit with its
        final kept/removed flag — the semantic tier's time-travel read
        (r16 verdict #4): "which docs did yesterday's corpus keep, which
        did it fold into a representative". Greedy decisions are FINAL
        (stored state is append-only — the class contract), so the
        bounded union of the ``ids``/``kept`` tables IS the state after
        that commit: kept = membership in the bounded ``kept`` table."""
        ids = self._stored("ids", as_of)
        if ids is None:
            return local_df(self.spark, [], "vec_id long, kept boolean")
        kept = self._stored("kept", as_of)
        if kept is None:
            return ids.select("vec_id", F.lit(False).alias("kept"))
        return ids.select("vec_id").join(
            kept.select("vec_id", F.lit(True).alias("kept")), "vec_id", "left"
        ).select("vec_id", F.coalesce("kept", F.lit(False)).alias("kept"))
