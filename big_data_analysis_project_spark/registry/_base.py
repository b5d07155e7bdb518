"""Shared registry plumbing: every query module declares its
(QUERIES, ORACLE, q) triple through one factory so registration
semantics (key -> callable, optional DuckDB oracle SQL) live in
exactly one place."""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile
from pathlib import Path

from ..errors import ScaleRefusal

__all__ = [
    "KEY_ARTIFACTS",
    "KEY_FALLBACKS",
    "KEY_ORACLES",
    "ScaleRefusal",
    "local_values_df",
    "make_registry",
    "sink_root",
]


@functools.cache
def sink_root() -> Path:
    """The process's one directory for the sink keys' outputs, created
    on first use (importing the registry writes nothing) and removed at
    interpreter exit. Per process, so concurrently running harness
    processes never race on the same output paths; within one process
    the keys write to fixed names under it."""
    root = Path(tempfile.mkdtemp(prefix="bdap_sinks_"))
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def local_values_df(spark, rows, cols_ddl: str):
    """A small LITERAL dimension as a pure-JVM LocalRelation
    (optimization r14, guide §4 "eliminate the Python boundary"):
    ``createDataFrame`` over a Python list ships pickled rows through a
    per-partition Python conversion job — ~0.5-1 s even for a handful
    of rows, re-paid on EVERY call by keys that construct their
    dimension inline — while a SQL ``VALUES`` literal plans as a
    LocalRelation with no Python worker anywhere (measured ~3x faster,
    interleaved A/B). Values are rendered by the DECLARED type so the
    schema is bit-identical to what ``createDataFrame(rows, cols_ddl)``
    produced: strings quote-escaped, doubles via ``repr`` + ``D``
    (shortest round-trip text parses to the identical IEEE double),
    bigints suffixed ``L``, ints plain, None as a typed NULL."""
    cols = [c.strip().rsplit(None, 1) for c in cols_ddl.split(",")]

    def cell(v, typ):
        if v is None:
            return f"CAST(NULL AS {typ})"
        t = typ.lower()
        if t == "string":
            return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"
        if t == "double":
            return repr(float(v)) + "D"
        if t == "bigint":
            return str(int(v)) + "L"
        if t in ("int", "integer"):
            return str(int(v))
        raise ValueError(f"local_values_df: unsupported type {typ}")

    body = ", ".join(
        "(" + ", ".join(cell(v, t) for v, (_, t) in zip(r, cols)) + ")"
        for r in rows
    )
    names = ", ".join(n for n, _ in cols)
    return spark.sql(f"SELECT * FROM VALUES {body} AS t({names})")

# key -> frozenset of session-memoized shared-artifact names the key's
# query directly consumes (names declared with ``_memo.artifact``).
# Declared AT REGISTRATION via ``@q(key, artifacts={...})`` so the
# dependency lives next to the code that creates it — VERDICT r9 #6:
# tools/scale_probe.py previously hand-maintained a parallel copy of
# this map, and an unmapped key probing with --skip-warm would lazily
# trigger the skipped (possibly quadratic-by-contract) build inside
# its timed run. ``registry.key_artifact_deps`` closes the set over
# the artifacts' declared parents. Global across modules (keys are
# globally unique, asserted in __init__).
KEY_ARTIFACTS: dict[str, frozenset] = {}

# key -> the registry key of the BOUNDED tier of the same question,
# declared at registration via ``@q(key, fallback="...")`` (round 10).
# This is the routing table ``router.run_routed`` walks when a guard
# raises ScaleRefusal: the exact twin names the tier a 100 TB pipeline
# should pay instead, next to the code whose refusal message already
# names it in prose. Declared ONLY where the fallback answers the same
# question under a documented one-sided contract (lower-bound Jaccard,
# subset edges, refinement clustering) — a key with no honest bounded
# tier declares nothing and the router dead-ends loudly
# (errors.NoBoundedTier) instead of substituting a wrong answer; the
# bar is CONTRACT fit, not mechanism reuse (banding may not stand in
# for containment, but df-capped exact evidence may — see
# dedup_containment_dfcap). Chains compose (graph_triangles -> _capped -> _lsh); the
# registry __init__ asserts every value is a registered key and every
# chain is acyclic.
KEY_FALLBACKS: dict[str, str] = {}

# key -> its DuckDB oracle SQL, global across modules (keys are
# globally unique). Filled by the same ``@q`` call that fills the
# module-local ORACLE map — ADVICE r11: the routed-facade factory
# previously resolved a ladder head's oracle by consulting a
# hand-picked module list (_dedup / _extended), so a head registered
# with an oracle in any OTHER module would silently get a rows-only
# facade. Resolving from the registration record can't go stale.
KEY_ORACLES: dict[str, str] = {}


def make_registry():
    """Return (QUERIES, ORACLE, q): the module's key->fn map, its
    key->oracle-SQL map, and the ``@q(key, oracle_sql=None,
    artifacts=(), fallback=None)`` decorator that fills both (plus the
    module-shared ``KEY_ARTIFACTS`` / ``KEY_FALLBACKS`` maps when the
    key consumes memoized artifacts / declares a bounded tier)."""
    queries: dict = {}
    oracle: dict = {}

    def q(
        key: str,
        oracle_sql: str | None = None,
        artifacts=(),
        fallback: str | None = None,
    ):
        def deco(fn):
            queries[key] = fn
            if oracle_sql is not None:
                oracle[key] = oracle_sql
                KEY_ORACLES[key] = oracle_sql
            KEY_ARTIFACTS[key] = frozenset(artifacts)
            if fallback is not None:
                assert fallback != key, f"{key}: self-fallback"
                KEY_FALLBACKS[key] = fallback
            return fn

        return deco

    return queries, oracle, q
