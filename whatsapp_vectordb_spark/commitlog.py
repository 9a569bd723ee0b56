"""The commit log every persisted tier shares.

Both serving layouts (``IvfSq8Index`` / ``IvfPqIndex``) and the
incremental dedup indexes (MinHash, Winnow, SemDedup, KnnGraph) accrete
state as ``<path>/batches/<seq>_<uuid>`` directories under one contract:

- an enforced single writer (``_writer_lease`` on ``<path>/_writer.lock``);
- every commit stages under ``<path>/_staging/<seq>_<uuid>`` and becomes
  visible with ONE ``os.rename`` into ``batches/`` (``_commit``), so a
  commit's tables land together or not at all;
- a zero-padded commit seq orders commits (``_parse_seq``), and two dirs
  at one seq mean a second writer broke the contract
  (``_duplicate_seqs``);
- fsck reports staging orphans, a stale lease and duplicate seqs the
  same way on every tier (``_fsck``).

What each tier builds on top (fold epochs and retention for the serving
layouts, manifest compaction for the dedup indexes) stays with the tier.
"""

from __future__ import annotations

import os
import shutil
import threading as _threading
import uuid


def _parse_seq(name: str) -> int:
    """Commit sequence from a committed batch dir name (``<seq>_<uuid>``).
    Legacy uuid-only dirs (layouts written before the mutation verbs
    existed) order as 0 — alongside the base: they predate any delete
    commit, so a later tombstone correctly masks them, and a later
    re-add (higher seq) correctly survives.

    The writer's format is ``f"{seq:08d}_{uuid}"`` (``_commit``) — a
    zero-padded AT-LEAST-8-digit decimal head followed by an underscore
    (``:08d`` grows past 8 digits without truncating, so seqs beyond
    10^8-1 still parse; an exactly-8 requirement would silently return
    0 for them, freezing seq allocation and mis-ordering every later
    commit). A legacy uuid-only dir has NO underscore, so even one whose
    32 hex chars are coincidentally all decimal digits cannot parse as
    an astronomically large seq."""
    if "_" not in name:
        return 0
    head = name.split("_", 1)[0]
    return int(head) if head.isdigit() and len(head) >= 8 else 0


class ConcurrentWriterError(RuntimeError):
    """A second writer contended for (or already corrupted) a persisted
    artifact's single-writer mutation contract."""


# in-process lease registry: realpath -> [thread_ident, depth]. The
# lease FILE gives cross-process mutual exclusion (O_CREAT|O_EXCL);
# this registry gives (a) same-thread REENTRANCY — upsert→add_batch,
# maintenance_tick→save, rebuild→save all nest writer verbs — and
# (b) cross-thread exclusion inside one process, where the pid in the
# lease file cannot distinguish threads.
_LEASES: dict[str, list[int]] = {}
_LEASES_GUARD = _threading.Lock()


class _writer_lease:
    """THE single-writer contract, enforced: every verb that commits to
    a persisted artifact — ``add_batch``/``upsert``/``delete`` with a
    path, ``save``/fold, ``maintenance_tick``, ``rebuild_layout``,
    ``apply_cdc_events``, the dedup indexes' ``add_batch``/``compact``/
    ``vacuum`` — acquires ``<path>/_writer.lock`` with
    ``O_CREAT|O_EXCL`` (atomic on POSIX and on the object-store
    semantics HDFS exposes for create-no-overwrite) before allocating a
    commit seq, and releases it after the commit rename. A contending
    writer gets a loud ``ConcurrentWriterError`` naming the holder
    instead of silently double-allocating a seq (the failure
    ``_batch_names_checked`` would otherwise only catch after the
    corruption lands).

    STALE leases (a writer that died holding the lock): broken when
    the recorded pid is dead on this host, or the lease age exceeds
    ``ttl`` seconds (the cross-host backstop — a real cluster would
    carry a fencing token; the ttl mirrors Delta's lease-expiry
    posture). Breaking re-contends through O_EXCL, so two breakers
    still serialize. Reentrant per (process, thread): nested verbs on
    the same artifact share the outer hold."""

    def __init__(
        self,
        path: str,
        verb: str,
        ttl: float = 3600.0,
        lock_path: str | None = None,
    ):
        self.path = path
        self.verb = verb
        self.ttl = ttl
        self.key = os.path.realpath(path)
        # lock_path: for artifacts whose data dir is itself REPLACED by a
        # whole-directory swap (VectorIndex's generation rename), the
        # lease must live BESIDE the dir, not inside it — a lock inside
        # would vanish mid-hold with the old generation
        self.lease = lock_path or os.path.join(path, "_writer.lock")

    def __enter__(self):
        import json as _json
        import time as _time

        me = _threading.get_ident()
        with _LEASES_GUARD:
            held = _LEASES.get(self.key)
            if held is not None:
                if held[0] == me:
                    held[1] += 1
                    return self
                raise ConcurrentWriterError(
                    f"{self.verb}: another thread of this process holds "
                    f"the writer lease on {self.path!r}"
                )
        os.makedirs(os.path.dirname(self.lease) or ".", exist_ok=True)
        for attempt in (0, 1):
            try:
                fd = os.open(self.lease, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                holder = self._read_holder()
                if attempt == 0 and self._is_stale(holder, _time.time()):
                    # break-and-retry re-contends through O_EXCL: of two
                    # concurrent breakers, exactly one wins the re-create
                    try:
                        os.unlink(self.lease)
                    except FileNotFoundError:
                        pass
                    continue
                raise ConcurrentWriterError(
                    f"{self.verb}: layout at {self.path!r} is held by "
                    f"another writer ({holder!r}); concurrent mutation "
                    "would double-allocate a commit seq — retry after the "
                    "holder finishes, or remove a stale _writer.lock"
                ) from None
            with os.fdopen(fd, "w") as f:
                _json.dump(
                    {
                        "pid": os.getpid(),
                        "host": os.uname().nodename,
                        "verb": self.verb,
                        "acquired_at": _time.time(),
                    },
                    f,
                )
            break
        with _LEASES_GUARD:
            _LEASES[self.key] = [me, 1]
        return self

    def _read_holder(self) -> dict:
        import json as _json

        try:
            with open(self.lease) as f:
                return _json.load(f)
        except (OSError, ValueError):
            # mid-write or already-broken lease: treat as anonymous —
            # the ttl (file mtime) still applies via _is_stale
            return {}

    def _is_stale(self, holder: dict, now: float) -> bool:
        if holder.get("host") == os.uname().nodename and isinstance(
            holder.get("pid"), int
        ):
            try:
                os.kill(holder["pid"], 0)
                return False  # holder alive on this host
            except ProcessLookupError:
                return True  # holder died without releasing
            except PermissionError:
                return False  # alive, different uid
        try:
            age = now - float(holder.get("acquired_at", "nan"))
            if age == age:  # not NaN
                return age > self.ttl
            return now - os.path.getmtime(self.lease) > self.ttl
        except OSError:
            return True  # lease vanished under us — re-contend

    def __exit__(self, *exc):
        with _LEASES_GUARD:
            held = _LEASES.get(self.key)
            if held is None or held[0] != _threading.get_ident():
                return False
            held[1] -= 1
            if held[1] > 0:
                return False
            del _LEASES[self.key]
        try:
            os.unlink(self.lease)
        except FileNotFoundError:
            pass
        return False


def _gc_staging(path: str) -> None:
    """Delete orphaned ``_staging`` entries left by a HARD crash before
    a commit rename: the in-process exception path already cleans up,
    but a killed process leaves its staging dir behind forever. Orphans
    are invisible to reads (only committed state is listed), so
    correctness never depended on this sweep — it just stops dead bytes
    accumulating. Runs under the writer lease (``_commit``): a
    concurrent writer's in-flight stage would otherwise be swept."""
    stag = os.path.join(path, "_staging")
    if os.path.isdir(stag):
        for d in os.listdir(stag):
            full = os.path.join(stag, d)
            if os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
            else:  # e.g. an orphaned _meta_*.tmp from a crashed publish
                try:
                    os.remove(full)
                except OSError:
                    pass


def _duplicate_seqs(names: list[str]) -> list[tuple[int, str, str]]:
    """``(seq, earlier, later)`` for every commit name whose seq ≥ 1 an
    earlier name already holds. Two writers that allocated the same seq
    both 'succeed' (``<seq>_<uuidA>`` and ``<seq>_<uuidB>`` are distinct
    rename targets), and no read can order equal seqs. Seq 0 is exempt:
    legacy uuid-only dirs all parse as 0 by design and are append-only
    data."""
    seen: dict[int, str] = {}
    dups = []
    for b in names:
        s = _parse_seq(b)
        if s >= 1 and s in seen:
            dups.append((s, seen[s], b))
        seen[s] = b
    return dups


def _batch_names_checked(bdir: str, where: str) -> list[str]:
    """Sorted committed batch-dir names under ``bdir`` with the
    DUPLICATE-SEQ tripwire: every serving-layout read of the commit log
    goes through here, so a violated single-writer contract fails
    LOUDLY at the next load/stats/fold instead of serving an arbitrary
    merge of two writers' states."""
    names = sorted(os.listdir(bdir)) if os.path.isdir(bdir) else []
    for s, a, b in _duplicate_seqs(names)[:1]:
        raise ConcurrentWriterError(
            f"{where} holds two commits at mutation seq {s} "
            f"({a!r} and {b!r}) — a second writer violated "
            "the single-writer contract (the _writer.lock lease "
            "prevents this when every writer honors it); the layout "
            "cannot be ordered and must be repaired by removing the "
            "losing commit before any read or fold"
        )
    return names


def _fsck(
    path: str, names: list[str], errors: list, warnings: list, info: dict
) -> None:
    """The integrity checks every tier's verify verb shares, appended to
    its report: duplicate commit seqs among ``names`` (an error — the
    corruption the lease exists to prevent), orphaned ``_staging``
    entries and a stale ``_writer.lock`` (warnings — the next writer
    reclaims both). A live lease holder lands in ``info``. Metadata
    only; takes no lease."""
    import time as _time

    for s, a, b in _duplicate_seqs(names):
        errors.append(
            f"duplicate commit seq {s}: {a!r} and {b!r} — two writers "
            "committed at the same sequence; remove the losing commit "
            "before any read or fold"
        )

    stag = os.path.join(path, "_staging")
    orphans = sorted(os.listdir(stag)) if os.path.isdir(stag) else []
    info["staging_orphans"] = len(orphans)
    if orphans:
        warnings.append(
            f"{len(orphans)} orphaned _staging entr"
            f"{'y' if len(orphans) == 1 else 'ies'} (crashed pre-commit "
            "writer) — reclaimed by the next mutation verb"
        )

    if os.path.exists(os.path.join(path, "_writer.lock")):
        probe = _writer_lease(path, "verify")
        holder = probe._read_holder()
        if probe._is_stale(holder, _time.time()):
            warnings.append(
                f"stale _writer.lock (holder {holder!r} dead or past "
                "TTL) — the next acquirer breaks it"
            )
        else:
            info["active_writer"] = holder


def _commit(path: str, verb: str, write, names) -> str:
    """One atomic commit to ``<path>/batches``. Under the writer lease:
    sweep staging orphans, allocate seq = 1 + the max over ``names()``
    (the tier's commit listing — dead and retained dirs included, so a
    seq is never reused), let ``write(stage, seq)`` materialize every
    table under ``_staging/<seq>_<uuid>``, then publish with ONE
    ``os.rename`` into ``batches/<seq>_<uuid>``. Any failure before the
    rename removes the stage and leaves the committed state untouched.
    Returns the committed dir name."""
    with _writer_lease(path, verb):
        _gc_staging(path)
        seq = 1 + max((_parse_seq(b) for b in names()), default=0)
        batch_id = f"{seq:08d}_{uuid.uuid4().hex}"
        stage = os.path.join(path, "_staging", batch_id)
        try:
            write(stage, seq)
            bdir = os.path.join(path, "batches")
            os.makedirs(bdir, exist_ok=True)
            os.rename(stage, os.path.join(bdir, batch_id))
        except BaseException:
            shutil.rmtree(stage, ignore_errors=True)
            raise
    return batch_id
