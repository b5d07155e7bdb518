"""Session-scoped memoization for corpus-snapshot artifacts (LSH pair
lists, marts) that several registry keys share, and the registry of
those artifacts.

Keys on ``spark.sparkContext.applicationId`` — unique per SparkSession
for the JVM's lifetime — NOT ``id(spark)``: Python recycles object ids,
so an id-keyed cache can serve localCheckpoint DataFrames bound to a
stopped session after its id is reused. Entries from any other
application are evicted on access, so a restarted session cannot grow
the cache without bound or pin a dead session's checkpoint blocks.

Each shared artifact is declared once, by decorating its
``build(spark, sf_dir)`` with :func:`artifact`. The declaration is the
artifact's memo (a registered snapshot-keyed cache), its parents in the
build graph and its warm-phase entry: ``ARTIFACTS`` lists them in
declaration order, and ``registry.warm_shared_artifacts`` /
``registry.key_artifact_deps`` read nothing else.
"""

from __future__ import annotations

import functools
import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import SparkSession

from ..sources.snapshot import fingerprint

# Guards cache BOOKKEEPING (eviction scans + lookup/insert), never the
# builds themselves: warm_shared_artifacts runs independent builders
# from a thread pool (guide §2.6), and an unguarded eviction
# comprehension can hit "dict changed size during iteration" against a
# concurrent insert. Builds stay outside the lock so independent
# artifacts actually overlap; two racing builds of the SAME key (which
# the warm DAG prevents) resolve first-write-wins via setdefault.
_MEMO_LOCK = threading.RLock()

_REGISTERED_CACHES: list[dict] = []


def register_cache(cache: dict) -> dict:
    """Register a module-level memo dict so :func:`release_snapshot`
    can sweep it. Declared as ``_X_CACHE = register_cache({})`` at
    module scope; returns the dict unchanged."""
    _REGISTERED_CACHES.append(cache)
    return cache


def release_snapshot(sf_dir: str) -> int:
    """Drop every memoized artifact built from ``sf_dir`` across all
    registered caches, then GC so the freed DataFrames' pinned
    localCheckpoint blocks can actually leave the unified memory pool
    (localCheckpoint blocks are NOT evictable under pressure — they
    only release when the owning RDD is garbage-collected and the
    ContextCleaner drops its blocks).

    Why this exists: a multi-corpus session (tools/scale_probe.py
    timing a base and a big corpus back to back) otherwise carries the
    base corpus's checkpointed shingle/minhash/unit-vector frames as
    dead weight while the big corpus's shared artifacts build — at
    sf30skew base + sf100skew big that cross-side pinning exhausted a
    64 g pool mid-build ([UNABLE_TO_ACQUIRE_MEMORY] in the minhash
    localCheckpoint) even though each side alone fits comfortably.
    Returns the number of entries dropped. Single-corpus sessions
    (bench.py, the driver gate, pytest) never need to call this."""
    import gc

    dropped = 0
    with _MEMO_LOCK:
        for cache in _REGISTERED_CACHES:
            for k in [
                k
                for k in cache
                if isinstance(k[1], tuple) and len(k[1]) == 3 and k[1][0] == sf_dir
            ]:
                del cache[k]
                dropped += 1
    if dropped:
        # Python-side refs gone; collect so py4j finalizers enqueue the
        # JVM-side DataFrame/RDD releases that let the ContextCleaner
        # unpin the checkpoint blocks
        gc.collect()
    return dropped


def snapshot_memo(
    cache: dict,
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[], object],
    extra=(),
):
    """``session_memo`` keyed additionally on the snapshot
    ``fingerprint`` of ``sf_dir``, so a rewrite of its parquet tables
    within one application rebuilds the entry (ADVICE r5 #4). ALL
    entries for the same ``sf_dir`` under an older fingerprint are
    evicted first — deliberately ignoring ``extra``
    (ADVICE r6 #5): callers like ``batch_centroids_cached`` derive
    parts of ``extra`` from the snapshot's CONTENT (e.g. a row-count-
    proportional k), so a rewritten snapshot changes the extra and an
    extra-exact eviction would leave the old entry pinned for the
    application's lifetime. Stale-fingerprint artifacts are useless to
    every consumer regardless of their hyperparameters, so the wider
    sweep cannot evict anything still servable."""
    fp = fingerprint(spark, sf_dir)
    app = spark.sparkContext.applicationId
    with _MEMO_LOCK:
        for stale in [
            k
            for k in cache
            if k[0] == app
            and isinstance(k[1], tuple)
            and len(k[1]) == 3
            and k[1][0] == sf_dir
            and k[1][1] != fp
        ]:
            del cache[stale]
    return session_memo(cache, spark, (sf_dir, fp, extra), build)


def session_memo(
    cache: dict,
    spark: SparkSession,
    extra_key,
    build: Callable[[], object],
):
    """Return ``cache[(app_id, extra_key)]``, building it on first use;
    evicts entries belonging to other (stopped) applications."""
    app = spark.sparkContext.applicationId
    key = (app, extra_key)
    with _MEMO_LOCK:
        for stale in [k for k in cache if k[0] != app]:
            del cache[stale]
        if key in cache:
            return cache[key]
    val = build()
    with _MEMO_LOCK:
        return cache.setdefault(key, val)


@dataclass(frozen=True)
class Artifact:
    """One shared artifact: the artifacts its build reads, and the
    accessor every consumer calls."""

    parents: frozenset[str]
    accessor: Callable[[SparkSession, str], object]


# name (the ``@q(artifacts=...)`` and warm-phase name) -> Artifact, in
# declaration order. A parent must be declared before its child, so
# this order is a topological order of the build graph (the sequential
# warm phase relies on it).
ARTIFACTS: dict[str, Artifact] = {}


def artifact(
    name: str,
    parents=(),
    extra: Callable[[], tuple] | None = None,
    memo: bool = True,
):
    """Declare a shared artifact: decorates ``build(spark, sf_dir)``
    and returns its accessor.

    The accessor is ``build`` behind :func:`snapshot_memo` on a cache
    registered for :func:`release_snapshot`. ``extra()`` is called on
    every access and joins the memo key, so it names the module-level
    hyperparameters the build reads (looked up at call time: a
    monkeypatched constant re-keys the artifact). ``memo=False``
    registers ``build`` as the accessor unchanged, for an artifact that
    owns a memo of another shape (the session-scoped TB marts, the kNN
    probe selection whose env override is read per call)."""
    parents = frozenset(parents)
    assert name not in ARTIFACTS, f"artifact {name!r} declared twice"
    assert parents <= set(ARTIFACTS), (
        f"artifact {name!r}: parent(s) {sorted(parents - set(ARTIFACTS))} "
        "not declared before it"
    )

    def deco(build):
        if not memo:
            ARTIFACTS[name] = Artifact(parents, build)
            return build
        cache = register_cache({})

        @functools.wraps(build)
        def accessor(spark: SparkSession, sf_dir: str):
            return snapshot_memo(
                cache,
                spark,
                sf_dir,
                lambda: build(spark, sf_dir),
                extra=extra() if extra is not None else (),
            )

        accessor.cache = cache
        ARTIFACTS[name] = Artifact(parents, accessor)
        return accessor

    return deco
