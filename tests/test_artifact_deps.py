"""Registry-side artifact-dependency declarations (VERDICT r9 #6):
every @q registration declares the session-memoized shared artifacts
its query lazily consumes (`artifacts={...}`), and
``registry.key_artifact_deps`` closes the set over the build-order
parents. tools/scale_probe.py derives its --skip-warm drop list from
these declarations, so an UNDER-declaration would let a probe lazily
trigger a skipped (possibly quadratic-by-contract) build inside a
timed run — the failure class the old hand-maintained map only
warned about. This test makes under-declaration a suite failure: it
AST-derives, for each registered key, the cached-artifact accessors
actually reachable from the key's function (transitively through
module-level helpers), and asserts the declared closure covers the
derived closure. No Spark session needed — pure source analysis."""

from __future__ import annotations

import ast
from pathlib import Path

REG_DIR = (
    Path(__file__).resolve().parents[1]
    / "big_data_analysis_project_spark"
    / "registry"
)


def _accessors() -> dict[str, str]:
    """accessor function name -> artifact name, read from the artifact
    registry (the names warm_shared_artifacts builds)."""
    from big_data_analysis_project_spark.registry import ARTIFACTS

    return {a.accessor.__name__: name for name, a in ARTIFACTS.items()}


def _closure(arts, parents):
    out: set[str] = set()
    frontier = list(arts)
    while frontier:
        a = frontier.pop()
        if a in out:
            continue
        out.add(a)
        frontier.extend(parents.get(a, ()))
    return out


def _derive_key_artifacts():
    """key -> set of accessor-artifacts reachable from its function,
    following helper calls by name across registry modules (names are
    module-unique; an accessor call terminates recursion — its own
    deps are the parent closure's job)."""
    accessors = _accessors()
    fn_calls: dict[str, set[str]] = {}
    key_fn: dict[str, str] = {}
    for mod in REG_DIR.glob("*.py"):
        if mod.name.startswith("_"):
            continue
        tree = ast.parse(mod.read_text())
        for node in ast.walk(tree):
            if not isinstance(node, ast.FunctionDef):
                continue
            calls = set()
            for sub in ast.walk(node):
                if isinstance(sub, ast.Call):
                    name = getattr(sub.func, "id", None) or getattr(
                        sub.func, "attr", None
                    )
                    if name:
                        calls.add(name)
            fn_calls.setdefault(node.name, set()).update(calls)
            for dec in node.decorator_list:
                if (
                    isinstance(dec, ast.Call)
                    and getattr(dec.func, "id", "") == "q"
                    and dec.args
                    and isinstance(dec.args[0], ast.Constant)
                ):
                    key_fn[dec.args[0].value] = node.name

    def reachable(fname: str, seen: set[str]) -> set[str]:
        if fname in seen:
            return set()
        seen.add(fname)
        out: set[str] = set()
        for c in fn_calls.get(fname, ()):
            if c in accessors:
                out.add(accessors[c])
            elif c in fn_calls and c != fname:
                out |= reachable(c, seen)
        return out

    return {k: reachable(f, set()) for k, f in key_fn.items()}


def test_declared_artifacts_cover_actual_consumption():
    from big_data_analysis_project_spark.registry import (
        ARTIFACT_PARENTS,
        KEY_ARTIFACTS,
        QUERIES,
        key_artifact_deps,
    )

    derived = _derive_key_artifacts()
    # every registry key is mapped (the @q decorator records even the
    # empty default) — the unmapped-key warning class is closed
    assert set(QUERIES) <= set(KEY_ARTIFACTS)

    missing = {}
    for key in QUERIES:
        want = _closure(derived.get(key, set()), ARTIFACT_PARENTS)
        have = set(key_artifact_deps(key))
        if not want <= have:
            missing[key] = sorted(want - have)
    assert not missing, (
        f"under-declared @q artifacts (code reaches an accessor the "
        f"registration omits): {missing}"
    )


def test_artifact_rejects_undeclared_parent():
    """A typo'd parent (or one declared after its child) fails the
    declaration, so the registry order stays topological."""
    import pytest

    from big_data_analysis_project_spark.registry._memo import ARTIFACTS, artifact

    with pytest.raises(AssertionError, match="not declared before it"):
        artifact("typo_child", parents={"shingle"})
    assert "typo_child" not in ARTIFACTS


def test_closure_is_transitive():
    from big_data_analysis_project_spark.registry import key_artifact_deps

    deps = key_artifact_deps("dedup_ngram_jaccard")
    # ngram_pairs is built from shingle_evidence, built from shingles
    assert {"ngram_pairs", "shingle_evidence", "shingles"} <= set(deps)
    # a key with no declarations closes to the empty set
    assert key_artifact_deps("dedup_exact") == frozenset()


def test_warm_scheduler_respects_parents_and_overlaps(spark, monkeypatch):
    """r13 optimization (guide §2.6): warm_shared_artifacts runs
    independent builds concurrently but must never start a child
    before its declared parents finish — a child racing its parent's
    memoized build would double-build the checkpoint. Every registered
    artifact's accessor is swapped for a fake with a deliberate sleep
    that records (start, end); the parallel run must (a) order every
    (child, parent) edge and (b) actually overlap (wall well under the
    serial sum)."""
    import dataclasses
    import time

    import big_data_analysis_project_spark.registry as R

    spans: dict[str, tuple[float, float]] = {}

    def fake(name, dt=0.15):
        def _f(*a, **k):
            t0 = time.perf_counter()
            time.sleep(dt)
            spans[name] = (t0, time.perf_counter())

        return _f

    for name, art in list(R.ARTIFACTS.items()):
        monkeypatch.setitem(
            R.ARTIFACTS, name, dataclasses.replace(art, accessor=fake(name))
        )

    t0 = time.perf_counter()
    out = R.warm_shared_artifacts(spark, "/nonexistent", parallel=4)
    wall = time.perf_counter() - t0

    assert set(spans) == set(out) == set(R.ARTIFACTS)
    for child, parents in R.ARTIFACT_PARENTS.items():
        for parent in parents:
            assert spans[child][0] >= spans[parent][1], (
                f"{child} started before parent {parent} finished"
            )
    serial = sum(e - s for s, e in spans.values())
    assert wall < 0.8 * serial, (wall, serial)

    # parallel=1 is the sequential attribution mode: every artifact
    # builds after all of its parents
    spans.clear()
    R.warm_shared_artifacts(spark, "/nonexistent", parallel=1)
    starts = sorted(spans, key=lambda n: spans[n][0])
    assert set(starts) == set(R.ARTIFACTS)
    for i, name in enumerate(starts):
        assert R.ARTIFACT_PARENTS[name] <= set(starts[:i]), name
