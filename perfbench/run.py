"""Benchmark for whatsapp_vectordb_spark: seeded closed-loop workloads driven
through the package's public API.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Workloads (each a module here): ``serve`` (single and batched top-K on a
256-dim ``IvfSq8Index``, read-only) and ``ingest`` (chat lines through
parse → embed → ``MinHashDedupIndex.add_batch``, their vectors upserted
into a 64-dim ``IvfSq8Index`` beside deletes, folds and fresh reads).
Seed 9001 is held out: check a performance claim on it after tuning on
others.

Run from the repository root. Spark runs ``local[N]`` with N = half the
CPUs this process may use (see ``spark_cpus``). Every generated input,
index, Spark local dir and JVM temp file lives under a fresh directory
in ``.perfbench_work/``, removed at exit; the run's record (environment,
host canaries, named metrics and, when traced, every span) is written to
``.perfbench_out/``.

Standard output ends with one JSON line: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones, with ``--trace 1`` the per-layer ones, which come from
spans the benchmark records around its calls into each layer. The lines
before it print every named metric with its unit and sample count.

The end-to-end metrics are the set-up time and the CPU cost of the
operations: the CPU seconds the Python driver, the Spark JVM and its
Python workers spend over each one. On a virtual machine that shares its
host, the host's other tenants move the wall time of whole runs several
times more than this CPU time; wall latencies print by name.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import resource
import shutil
import subprocess
import sys
import tempfile
import time
import types
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("serve", "ingest")

# (metric, unit, how): "dur"/"jobs"/"stages"/"tasks" read the median of
# a span name's values; "layer" reads the workload's own figure
PER_LAYER = [
    ("session.get_spark.s", "s", ("run",)),
    ("ann.IvfSq8Index.build.s", "s", ("dur", "ann.IvfSq8Index.build")),
    ("ann.IvfSq8Index.save.s", "s", ("dur", "ann.IvfSq8Index.save")),
    ("ann.IvfSq8Index.search.plan_s", "s", ("dur", "ann.IvfSq8Index.search.plan")),
    ("ann.IvfSq8Index.search.exec_s", "s", ("dur", "ann.IvfSq8Index.search.exec")),
    ("ann.IvfSq8Index.search.jobs", "count", ("jobs", "ann.IvfSq8Index.search")),
    ("ann.IvfSq8Index.search.stages", "count", ("stages", "ann.IvfSq8Index.search")),
    ("ann.IvfSq8Index.search.tasks", "count", ("tasks", "ann.IvfSq8Index.search")),
    ("ann.IvfSq8Index.search.rows_examined_per_result", "rows", ("layer",)),
    ("ann.IvfSq8Index.search.recall_at_10", "ratio", ("layer",)),
    ("ann.IvfSq8Index.search_batched.exec_s", "s",
     ("dur", "ann.IvfSq8Index.search_batched.exec")),
    ("ann.IvfSq8Index.search_batched.jobs", "count",
     ("jobs", "ann.IvfSq8Index.search_batched")),
    ("ann.IvfSq8Index.load.s", "s", ("dur", "ann.IvfSq8Index.load")),
    ("ann.IvfSq8Index.upsert.s", "s", ("dur", "ann.IvfSq8Index.upsert")),
    ("ann.IvfSq8Index.upsert.jobs", "count", ("jobs", "ann.IvfSq8Index.upsert")),
    ("ann.IvfSq8Index.delete.s", "s", ("dur", "ann.IvfSq8Index.delete")),
    ("ann.IvfSq8Index.delete.jobs", "count", ("jobs", "ann.IvfSq8Index.delete")),
    ("ann.maintenance_tick.s", "s", ("dur", "ann.maintenance_tick")),
    ("ann.maintenance_tick.jobs", "count", ("jobs", "ann.maintenance_tick")),
    ("ann.maintenance_tick.bytes_rewritten", "B", ("layer",)),
    ("ann.layout.commit_dirs", "count", ("layer",)),
    ("ann.layout.bytes_written_per_user_byte", "ratio", ("layer",)),
    ("ann.layout.files", "count", ("layer",)),
    ("ann.layout.space_amp", "ratio", ("layer",)),
    ("parse.parse_chat_lines.s", "s", ("dur", "parse.parse_chat_lines")),
    ("parse.fail_ratio", "ratio", ("layer",)),
    ("embedder.with_embedding.s", "s", ("dur", "embedder.with_embedding")),
    ("embedder.rows_per_s", "1/s", ("layer",)),
    ("dedup_index.add_batch.call_s", "s", ("dur", "dedup_index.add_batch.call")),
    ("dedup_index.add_batch.pairs_s", "s", ("dur", "dedup_index.add_batch.pairs")),
    ("dedup_index.add_batch.jobs", "count", ("jobs", "dedup_index.add_batch")),
    ("dedup_index.pairs_per_batch", "count", ("layer",)),
    ("dedup_index.committed_batches", "count", ("layer",)),
    ("spark.jobs_per_op", "count", ("run",)),
    ("spark.failed_tasks", "count", ("run",)),
    ("host.cpu_canary_s", "s", ("run",)),
    ("host.io_canary_mb_s", "MB/s", ("run",)),
    ("host.cpu_steal_share", "ratio", ("run",)),
    ("trace.overhead_s", "s", ("run",)),
]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def spark_cpus() -> int:
    """Task threads for ``local[N]``: half the CPUs this process may use.
    Each task of a Python UDF also keeps a Python worker busy, so with
    half the CPUs as task slots the threads that run at once still fit
    the CPUs, and latencies depend less on how much of them the host
    takes back (CPU steal)."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def isolate_environment(scratch: str) -> None:
    """Point every temp and Spark dir this process and its children use
    at ``scratch``, and size Spark by ``spark_cpus``."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_SCRATCH=scratch,
        SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
        SPARK_GRAFT_CPUS=str(spark_cpus()),
        SPARK_DRIVER_MEMORY="1g",
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
    )
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))


def start_spark(scratch: str):
    from whatsapp_vectordb_spark.session import get_spark

    jvm_tmp = os.path.join(scratch, "jvm-tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={jvm_tmp} "
                f"-Dderby.system.home={os.path.join(scratch, 'derby')}"
            ),
            "spark.ui.showConsoleProgress": "false",
            # the status tracker must still hold every job of the run
            # when the spans are attributed at the end
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM and every process it started, and wait
    until each has exited."""
    from pyspark import SparkContext

    from common import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    others = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    # close every py4j connection first, so none is left to fail later
    # against the exited JVM
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in others:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def environment(args) -> dict:
    import numpy as np
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": np.__version__,
    }


def per_layer(tracer, res: dict, run_figs: dict) -> dict:
    out = {}
    for name, unit, how in PER_LAYER:
        if how[0] == "run":
            value = run_figs[name]
        elif how[0] == "layer":
            value = res["layer"].get(name, 0.0)
        else:
            value = tracer.median(how[1], how[0])
        out[name] = {"value": float(value), "unit": unit}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "whatsapp_vectordb_spark" / "__init__.py").is_file():
        print(f"perfbench: no whatsapp_vectordb_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work"
    work.mkdir(exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work)
    try:
        return run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def run(args, scratch: str) -> int:
    isolate_environment(scratch)
    from common import cpu_canary_s, cpu_times, io_canary_mb_s, p50, steal_share
    from spans import Tracer

    canary_before = (cpu_canary_s(), io_canary_mb_s(scratch))
    ticks_before = cpu_times()
    t0 = time.perf_counter()
    spark = start_spark(scratch)
    spark_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark.sparkContext, bool(args.trace))
        ctx = types.SimpleNamespace(
            spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
            scratch=scratch,
        )
        res = importlib.import_module(args.workload).run(ctx)
        totals = tracer.attribute_jobs() if args.trace else {}
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        peak_rss_mb = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
            + vm_hwm_mb(jvm_pid)
        )
    finally:
        stop_spark(spark)
    steal = steal_share(ticks_before, cpu_times())
    canary_after = (cpu_canary_s(), io_canary_mb_s(scratch))

    loop = res["loop"]
    env = environment(args)
    env["canaries"] = {"before": {"cpu_s": canary_before[0], "io_mb_s": canary_before[1]},
                       "after": {"cpu_s": canary_after[0], "io_mb_s": canary_after[1]},
                       "cpu_steal_share": steal}
    setup_s = spark_s + res["setup_s"]
    named = {
        "setup_s": {"value": setup_s, "unit": "s"},
        **res["named"],
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        "op_error_ratio": {"value": loop.failed / max(loop.attempted, 1),
                           "unit": "ratio", "n": loop.attempted},
    }
    correct = loop.failed == 0 and loop.attempted > 0 and all(res["checks"].values())
    record = {
        "env": env,
        "named": named,
        "ops": {k: {"attempted": loop.attempted_by[k], "failed": loop.failed_by[k]}
                for k in loop.attempted_by},
        "checks": res["checks"],
        "window_s": loop.window_s,
        "latencies_s": loop.lat,
        "cpu_s": loop.cpu,
    }
    if args.trace:
        op_jobs = {}
        for s in tracer.spans:
            if s["name"].startswith("op.") and s["op"] is not None:
                op_jobs.setdefault(s["name"][3:], []).append(s["jobs"])
        record["jobs_per_op"] = {k: p50(v) for k, v in op_jobs.items()}
        record["spans_summary"] = tracer.summary()
        run_figs = {
            "session.get_spark.s": spark_s,
            "spark.jobs_per_op": p50([j for v in op_jobs.values() for j in v]),
            "spark.failed_tasks": totals["failed_tasks"],
            "host.cpu_canary_s": max(canary_before[0], canary_after[0]),
            "host.io_canary_mb_s": min(canary_before[1], canary_after[1]),
            "host.cpu_steal_share": steal,
            "trace.overhead_s": loop.trace_overhead(res["main_kind"]),
        }
        metrics = per_layer(tracer, res, run_figs)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            **{k: {"value": float(v),
                   "unit": "1/cpu_s" if k == "work_per_cpu_s" else "s"}
               for k, v in res["e2e"].items()},
        }

    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(out_dir / f"{stem}.json", "w") as f:
        json.dump({**record, "spans": tracer.spans}, f, default=str)
    print("perfbench env: " + json.dumps(env))
    for name, m in named.items():
        parts = {name: m} if "unit" in m else {f"{name}_{k}": v for k, v in m.items()}
        for full, sub in parts.items():
            print(f"perfbench metric {full}: " + json.dumps(sub))
    if args.trace:
        for name, s in record["spans_summary"].items():
            print(f"perfbench span {name}: " + json.dumps(s))
        print("perfbench jobs_per_op: " + json.dumps(record["jobs_per_op"]))
    # a kind with no completed operation has no median; such a run has
    # failed operations and reports correct=false, the 0 only keeps the
    # line valid JSON
    for m in metrics.values():
        if m["value"] != m["value"]:
            m["value"] = 0.0
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(loop.attempted),
        "failed": int(loop.failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
