"""In-memory spans around the benchmark's calls into the package's layers.

A span is ``(name, start, end, parent, op)``. Spans are only recorded when
tracing is on; with tracing off ``span()`` is a no-op context manager, so
the untraced run pays one attribute test per call.

Spark work is attributed per span through job groups: entering a span
sets a job group unique to it, leaving restores the parent's. Job ids
are read back from Spark's status tracker once, after the run, so
no status query sits inside a timed region. Jobs submitted from helper
threads (the package runs independent commit writes from a small thread
pool) carry no job group; since the client is a single closed loop and
job ids increase in submission order, each such job is charged to the
span of the nearest earlier grouped job.
"""

from __future__ import annotations

import bisect
import contextlib
import statistics
import time

UNTRACED_GROUP = "perfbench-untraced"


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self._suspended = False

    def _set_group(self, group: str | None, desc: str = "") -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, desc)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or self._suspended:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "op": self.op_id,
            "group": f"perfbench-{sid}",
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(
                self.spans[parent]["group"] if parent is not None else None
            )

    @contextlib.contextmanager
    def untraced(self):
        """Run a block with spans off, its Spark jobs under one shared
        group so they are never charged to a neighbouring traced span."""
        if not self.enabled:
            yield
            return
        self._suspended = True
        self._set_group(UNTRACED_GROUP, "untraced")
        try:
            yield
        finally:
            self._suspended = False
            self._set_group(None)

    def end_setup(self) -> None:
        """Mark every span so far as setup, even those of warm-up
        operations, so per-layer medians of measured operations skip them."""
        for rec in self.spans:
            rec["op"] = None

    def attribute_jobs(self) -> dict:
        """Fill ``jobs``/``stages``/``tasks``/``failed_tasks`` (inclusive
        of child spans) and ``self_s`` on every span. Returns run totals."""
        st = self.sc.statusTracker()
        owner: dict[int, int | None] = {}
        for rec in self.spans:
            for j in st.getJobIdsForGroup(rec["group"]):
                owner[j] = rec["id"]
        for j in st.getJobIdsForGroup(UNTRACED_GROUP):
            owner[j] = None
        orphans = sorted(st.getJobIdsForGroup(None))
        grouped = sorted(owner)
        for j in orphans:
            i = bisect.bisect_left(grouped, j)
            owner[j] = owner[grouped[i - 1]] if i else None
        own = {rec["id"]: {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
               for rec in self.spans}
        total_failed = 0
        for j, sid in owner.items():
            info = st.getJobInfo(j)
            counts = {"jobs": 1, "stages": 0, "tasks": 0, "failed_tasks": 0}
            for s in info.stageIds if info is not None else ():
                si = st.getStageInfo(s)
                if si is None:
                    continue
                counts["stages"] += 1 if si.numCompletedTasks else 0
                counts["tasks"] += si.numCompletedTasks
                counts["failed_tasks"] += si.numFailedTasks
            total_failed += counts["failed_tasks"]
            if sid is not None:
                for k, v in counts.items():
                    own[sid][k] += v
        children: dict[int, list[int]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(rec["id"])
        # inclusive counts: children were appended after their parent, so
        # a reverse walk folds every subtree before its root is read
        for rec in reversed(self.spans):
            rec.update(own[rec["id"]])
            for c in children.get(rec["id"], ()):
                for k in own[rec["id"]]:
                    rec[k] += self.spans[c][k]
            kids = [(self.spans[c]["start"], self.spans[c]["end"])
                    for c in children.get(rec["id"], ())]
            rec["self_s"] = (rec["end"] - rec["start"]) - _covered(kids)
        return {"jobs": len(owner), "failed_tasks": total_failed}

    def named(self, name: str) -> list[dict]:
        return [r for r in self.spans if r["name"] == name]

    def median(self, name: str, key: str = "dur") -> float:
        """Median over the spans inside measured operations, or over all
        of them when the layer is only called during setup."""
        rs = self.named(name)
        rs = [r for r in rs if r["op"] is not None] or rs
        vals = [(r["end"] - r["start"]) if key == "dur" else r[key] for r in rs]
        return float(statistics.median(vals)) if vals else 0.0

    def summary(self) -> dict:
        """Per span name: count, median duration, total self time, median
        jobs/stages/tasks."""
        out = {}
        for name in sorted({r["name"] for r in self.spans}):
            rs = self.named(name)
            out[name] = {
                "n": len(rs),
                "p50_s": statistics.median(r["end"] - r["start"] for r in rs),
                "self_s_total": sum(r["self_s"] for r in rs),
                "jobs_p50": statistics.median(r["jobs"] for r in rs),
                "stages_p50": statistics.median(r["stages"] for r in rs),
                "tasks_p50": statistics.median(r["tasks"] for r in rs),
            }
        return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
