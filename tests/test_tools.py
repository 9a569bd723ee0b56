"""Unit tests for the driver-side tooling (no Spark session needed).

These tests are hermetic: they seed a tmp directory with synthetic
CORRECTNESS_r*/SWEEP_r* artifacts instead of asserting against the live
repo's artifact set (which the driver mutates every round — a test pinned
to "current round == N" breaks the moment the next round's files land).
"""

from __future__ import annotations

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_sweep():
    spec = importlib.util.spec_from_file_location(
        "sweep_registry", os.path.join(REPO, "tools", "sweep_registry.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_sweep_flags_only_material_regressions():
    sweep = _load_sweep()
    prev = {"a": 1.0, "b": 0.1, "c": 2.0, "d": 0.2}
    now = {
        "a": 3.5,   # 3.5x over floor -> flagged
        "b": 0.35,  # 3.5x but both sub-floor -> noise, not flagged
        "c": 2.5,   # 1.25x -> fine
        "d": 0.9,   # 4.5x, new value over floor -> flagged
        "e": 9.9,   # no baseline -> never flagged
    }
    got = sweep._flag_regressions(now, prev)
    assert set(got) == {"a", "d"}
    assert got["a"]["ratio"] == 3.5
    assert got["d"]["prev_s"] == 0.2 and got["d"]["now_s"] == 0.9


def test_sweep_next_round_tracks_correctness_files(tmp_path):
    sweep = _load_sweep()
    # empty dir -> round 1
    assert sweep._next_round(str(tmp_path)) == 1
    for r in (1, 2, 3, 7):
        (tmp_path / f"CORRECTNESS_r{r:02d}.json").write_text("{}")
    assert sweep._next_round(str(tmp_path)) == 8


def test_sweep_next_round_defaults_to_live_repo():
    """The default repo root must still be the real repo. Deliberately
    weak (ADVICE r9): the live CORRECTNESS_r*.json set is mutable driver
    state, so only assert the default resolves to a positive round — the
    exact-arithmetic case is covered hermetically above."""
    sweep = _load_sweep()
    assert sweep._next_round() >= 1


def test_sweep_prev_sweep_reads_newest(tmp_path):
    sweep = _load_sweep()
    # no sweeps yet -> (None, None)
    assert sweep._prev_sweep(str(tmp_path)) == (None, None)
    (tmp_path / "SWEEP_r08.json").write_text(
        json.dumps({"n_queries": 2, "times": {"a": 1.0, "b": 2.0}})
    )
    (tmp_path / "SWEEP_r09.json").write_text(
        json.dumps({"n_queries": 3, "times": {"a": 1.0, "b": 2.0, "c": 3.0}})
    )
    name, data = sweep._prev_sweep(str(tmp_path))
    assert name == "SWEEP_r09.json"
    assert data["n_queries"] == 3 and len(data["times"]) == 3


def test_sweep_registry_gap_detects_post_sweep_registrations():
    """VERDICT r11 #4: the parity check must flag any registered query
    with no sweep row — including against pre-r12 sweeps that lack the
    query_names field (fallback to times∪errors keys)."""
    sweep = _load_sweep()
    reg = {"a", "b", "c"}
    # modern sweep with explicit name list
    assert sweep.registry_sweep_gap(reg, {"query_names": ["a", "b", "c"]}) == []
    assert sweep.registry_sweep_gap(reg, {"query_names": ["a", "b"]}) == ["c"]
    # legacy sweep: covered = times ∪ errors (an errored row still counts
    # as swept — the error field is the loud signal there, not absence)
    assert sweep.registry_sweep_gap(
        reg, {"times": {"a": 1.0}, "errors": {"b": "boom"}}
    ) == ["c"]
    # no sweep at all: everything is uncovered
    assert sweep.registry_sweep_gap(reg, None) == ["a", "b", "c"]


def test_bench_recorded_matches_baseline_md():
    """ADVICE r14: bench.py's RECORDED_SF01_MEDIANS is the comparison
    basis for the summary line's vs_recorded/worst3 telemetry and is
    hand-copied from BASELINE.md §"Recorded numbers" — parse that table
    and assert the dict matches it exactly, so a re-leveling in either
    place without the other fails the suite."""
    import re

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    with open(os.path.join(REPO, "BASELINE.md")) as f:
        md = f.read()
    section = md.split("## Recorded numbers", 1)[1]
    table = {}
    for line in section.splitlines():
        m = re.match(r"\|\s*([a-z][a-z0-9_]+)\s*\|\s*([0-9.]+)", line)
        if m:
            table[m.group(1)] = float(m.group(2))
        elif table and line.strip() and not line.startswith("|"):
            break  # table ended (first prose line after rows started)
    assert table == bench.RECORDED_SF01_MEDIANS


def test_bench_per_query_tail_line_fits_and_parses():
    """VERDICT r17 #2: the per-query line printed LAST by bench.py must
    survive the driver's 2000-char stdout-tail capture — complete, JSON-
    parseable, contract-shaped, with every timed entry present — at the
    current 70-entry set AND under a degraded-host width bound (every
    value at its max encoded width)."""
    import json

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    with open(os.path.join(REPO, "BENCH_LOCAL_r18.json")) as f:
        rec = json.load(f)
    cases = {
        "current": rec["queries_all"],
        # worst realistic width: everything just under 100 s (4 chars)
        "degraded": {q: [99.9] for q in rec["queries_all"]},
    }
    for label, timings_all in cases.items():
        line = bench.per_query_tail_line(timings_all, rec["value"], rec["sf"])
        assert len(line) + 1 <= 2000, (label, len(line))
        tail = ("x" * 3000 + "\n" + line + "\n")[-2000:]
        last = [ln for ln in tail.splitlines() if ln.strip()][-1]
        parsed = json.loads(last)
        assert parsed["metric"] == "headline_queries_total"
        assert set(parsed["queries"]) == set(timings_all)
        assert parsed["sf"] == rec["sf"]
        # mins ride within rounding of the raw reps
        for q, ts in timings_all.items():
            assert abs(parsed["queries"][q] - min(ts)) <= 0.5 + 1e-9


def test_schema_field_names_ddl_edge_forms():
    """ADVICE r17: backtick-quoted names containing spaces and the
    'name: type' colon DDL form must parse to the exact field names."""
    from whatsapp_vectordb_spark.session import _schema_field_names

    assert _schema_field_names("a bigint, b array<int>") == ["a", "b"]
    assert _schema_field_names("`weird col` string, b int") == ["weird col", "b"]
    assert _schema_field_names("a: int, b: string") == ["a", "b"]
    assert _schema_field_names("`x, y` int, z map<string,int>") == ["x, y", "z"]


def _package_keyword_uses(path: str):
    """Yield ``(line, callee, keyword, signature)`` for every keyword passed
    in a call of a name imported from ``whatsapp_vectordb_spark`` in the
    script at ``path`` — imports inside functions included — and in calls
    of an attribute of such a name (``IvfSq8Index.build(...)``). Callees
    that take ``**kwargs`` are skipped: any keyword is valid there."""
    import ast
    import importlib
    import inspect

    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    names = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            "whatsapp_vectordb_spark"
        ):
            mod = importlib.import_module(node.module)
            for a in node.names:
                if hasattr(mod, a.name):
                    names[a.asname or a.name] = getattr(mod, a.name)
                else:  # a submodule
                    names[a.asname or a.name] = importlib.import_module(
                        f"{node.module}.{a.name}"
                    )
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        if isinstance(fn, ast.Name) and fn.id in names:
            callee, label = names[fn.id], fn.id
        elif (
            isinstance(fn, ast.Attribute)
            and isinstance(fn.value, ast.Name)
            and fn.value.id in names
            and hasattr(names[fn.value.id], fn.attr)
        ):
            callee = getattr(names[fn.value.id], fn.attr)
            label = f"{fn.value.id}.{fn.attr}"
        else:
            continue
        if not callable(callee):
            continue
        try:
            sig = inspect.signature(callee)
        except (TypeError, ValueError):  # builtins without a signature
            continue
        if any(p.kind is p.VAR_KEYWORD for p in sig.parameters.values()):
            continue
        for kw in node.keywords:
            if kw.arg is not None:  # ``**opts`` expansions are unknowable
                yield node.lineno, label, kw.arg, sig


def test_tools_and_bench_call_package_apis_with_live_keywords():
    """Stale-keyword lint: ``tools/*.py`` and ``bench.py`` mostly import the
    package inside ``main()``/closures, so an API that loses a parameter
    breaks them only when someone next runs them. Every keyword they pass
    to a package callable must still be in its signature."""
    import glob

    scripts = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
    scripts.append(os.path.join(REPO, "bench.py"))
    stale, checked = [], 0
    for path in scripts:
        for line, callee, kw, sig in _package_keyword_uses(path):
            checked += 1
            if kw not in sig.parameters:
                stale.append(f"{os.path.relpath(path, REPO)}:{line} {callee}(..., {kw}=)")
    assert not stale, "keywords the callee no longer takes:\n" + "\n".join(stale)
    assert checked > 100, checked  # the walk really reaches the calls
