"""Closed-loop client shared by the workloads: one client thread issues the
next operation only after the previous one returned. Every operation is
timed, its output checked outside the timed region, and counted as
attempted and, if it raised or failed its check, as failed."""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict

import numpy as np
import pandas as pd

# served scores are rounded to 6 decimals; float32 storage adds less
SCORE_TOL = 1e-5
# the highest of these percentiles with at least ten samples beyond it
# is a latency's reported tail
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def p50(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def tail(xs) -> tuple[str | None, float | None]:
    """``(name, value)`` of the highest ``TAIL_LADDER`` percentile (nearest
    rank) with at least ten samples above it; ``(None, None)`` when there
    are too few samples for any."""
    s = sorted(xs)
    n = len(s)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= 10:
            return f"p{p:g}", s[rank - 1]
    return None, None


def per_cpu_s(work: float, loop) -> float:
    """``work`` per CPU second of every measured operation of a ``Loop``;
    0 when none completed."""
    cpu = sum(sum(v) for v in loop.cpu.values())
    return work / cpu if cpu else 0.0


def latency_metric(xs) -> dict:
    """A latency as ``<name>_p50_s`` and ``<name>_tail_s`` entries."""
    name, value = tail(xs)
    return {
        "p50_s": {"value": p50(xs), "unit": "s", "n": len(xs)},
        "tail_s": {"value": value, "unit": "s", "n": len(xs),
                   "percentile": name},
    }


class Loop:
    """Runs a workload's operations for ``seconds`` and keeps the tallies.

    A *round* is the fixed mix of operations a workload repeats, so every
    round is alike; the round in progress when the window closes runs to
    completion. Every operation's wall time (``lat``) and the CPU time of
    the whole process tree over it (``cpu``) are kept. With tracing on,
    every second operation of each kind runs untraced, so the run itself
    measures what tracing costs: ``trace_overhead`` is the median of a
    kind's traced latencies minus its untraced ones."""

    def __init__(self, tracer, seconds: float):
        self.tracer = tracer
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.failed_by: dict[str, int] = defaultdict(int)
        self.attempted_by: dict[str, int] = defaultdict(int)
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.cpu: dict[str, list[float]] = defaultdict(list)
        self._lat_traced: dict[str, list[tuple[float, bool]]] = defaultdict(list)
        self.start = None
        self.end = None

    def rounds_left(self):
        self.start = time.perf_counter()
        while time.perf_counter() - self.start < self.seconds:
            try:
                yield
            finally:
                self.end = time.perf_counter()

    @property
    def window_s(self) -> float:
        return (self.end or time.perf_counter()) - self.start

    def op(self, kind: str, fn, check=None, alternate: bool = True):
        """Time ``fn()``; then, untimed, ``check(result)`` must return a
        list of problems (empty when the output is right). With
        ``alternate=False`` the operation is always traced."""
        self.attempted += 1
        self.attempted_by[kind] += 1
        self.tracer.op_id = self.attempted
        traced = not alternate or self.attempted_by[kind] % 2 == 1
        scope = self.tracer.untraced() if not traced else contextlib.nullcontext()
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with scope, self.tracer.span("op." + kind):
                out = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self._fail(kind, "raised")
            return None
        dt = time.perf_counter() - t0
        self.cpu[kind].append(tree_cpu_s() - c0)
        self.lat[kind].append(dt)
        self._lat_traced[kind].append((dt, traced))
        problems = check(out) if check is not None else []
        if problems:
            self._fail(kind, "; ".join(problems[:3]))
        return out

    def _fail(self, kind: str, why: str) -> None:
        self.failed += 1
        self.failed_by[kind] += 1
        print(f"perfbench: {kind} op #{self.attempted} failed: {why}",
              file=sys.stderr)

    def trace_overhead(self, kind: str) -> float:
        pairs = self._lat_traced.get(kind, [])
        on = [d for d, t in pairs if t]
        off = [d for d, t in pairs if not t]
        if not on or not off:
            return 0.0
        return p50(on) - p50(off)


def _proc_stats() -> dict[int, list[str]]:
    """The fields after the command name of every process's
    ``/proc/<pid>/stat``."""
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stats[int(d)] = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
    return stats


def descendants(pid: int, stats: dict | None = None) -> list[int]:
    stats = _proc_stats() if stats is None else stats
    kids: dict[int, list[int]] = {}
    for p, fields in stats.items():
        kids.setdefault(int(fields[1]), []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below it
    (the Spark JVM and its Python workers), reaped children included.
    Unlike wall time, it leaves out the time the host's other tenants
    hold the CPUs."""
    stats = _proc_stats()
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid(), stats)]:
        if pid in stats:
            # utime, stime, cutime, cstime
            ticks += sum(int(x) for x in stats[pid][11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_canary_s() -> float:
    """Seconds for a fixed pure-Python loop: rises when the host's cores
    are contended."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(400_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def cpu_times() -> tuple[int, int]:
    """``(steal, total)`` CPU ticks of the whole machine so far, from
    ``/proc/stat``; ``(0, 0)`` where it cannot be read."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the machine's CPU time between two ``cpu_times`` readings
    that the host hypervisor took back: high when a virtual machine's
    host is contended."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def io_canary_mb_s(scratch: str, mb: int = 16) -> float:
    """Buffered write + fsync throughput of ``mb`` MiB into ``scratch``."""
    path = os.path.join(scratch, "io_canary.bin")
    block = os.urandom(1 << 20)
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(mb):
            f.write(block)
        f.flush()
        os.fsync(f.fileno())
    dt = time.perf_counter() - t0
    os.remove(path)
    return mb / dt


def clustered_unit_vectors(rng, n: int, centers, noise: float):
    """``n`` unit float32 vectors, each a random center plus Gaussian
    noise — the structure an IVF quantizer is built for."""
    pick = rng.integers(0, len(centers), n)
    x = centers[pick] + noise * rng.standard_normal((n, centers.shape[1]))
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def vector_frame(spark, ids, vecs):
    """``(vec_id long, embedding array<float>)`` through Arrow."""
    pdf = pd.DataFrame({"vec_id": np.asarray(ids, dtype=np.int64),
                        "embedding": list(vecs)})
    return spark.createDataFrame(pdf, "vec_id long, embedding array<float>")


def search(tr, idx, q, k: int):
    """``idx.search`` for query ``q`` with API defaults, its planning and
    its collect in separate spans; returns ``[(vec_id, score)]``."""
    with tr.span("ann.IvfSq8Index.search"):
        with tr.span("ann.IvfSq8Index.search.plan"):
            df = idx.search(query_vec=q.tolist(), k=k)
        with tr.span("ann.IvfSq8Index.search.exec"):
            rows = df.collect()
    return [(r["vec_id"], r["score"]) for r in rows]


class LiveSet:
    """The benchmark's model of the index: latest vector per live id."""

    def __init__(self, vecs, k: int):
        self.vecs = {i: v for i, v in enumerate(vecs)}
        self.k = k

    def upsert(self, ids, vecs):
        for i, v in zip(ids, vecs):
            self.vecs[int(i)] = v

    def delete(self, ids):
        for i in ids:
            del self.vecs[int(i)]

    def check(self, hits, q) -> list[str]:
        """Problems with ``hits``, the ``[(vec_id, score)]`` served for
        query ``q``."""
        problems = []
        if len(hits) != self.k:
            problems.append(f"{len(hits)} hits, want {self.k}")
        if len({i for i, _ in hits}) != len(hits):
            problems.append("duplicate ids")
        for i, s in hits:
            v = self.vecs.get(i)
            if v is None:
                problems.append(f"deleted id {i} served")
            elif abs(s - float(v.astype(np.float64) @ q)) > SCORE_TOL:
                problems.append(f"id {i}: score {s} is not its latest version's")
        return problems

    def exact_top(self, q):
        ids = np.fromiter(self.vecs, dtype=np.int64)
        m = np.stack([self.vecs[i] for i in ids.tolist()]).astype(np.float64)
        return set(ids[np.argsort(-(m @ q), kind="stable")[: self.k]].tolist())
