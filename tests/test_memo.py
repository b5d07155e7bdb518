"""snapshot_memo contract (ADVICE r5 #4): rewriting the parquet files
under a memoized sf_dir within one Spark application must invalidate
the cached artifact instead of serving the stale one."""

from __future__ import annotations

import time

from big_data_analysis_project_spark.registry._memo import (
    _REGISTERED_CACHES,
    register_cache,
    release_snapshot,
    session_memo,
    snapshot_memo,
)
from big_data_analysis_project_spark.sources.snapshot import fingerprint

from .conftest import viewfs_mount


def _write_parquet(spark, path, n):
    spark.range(n).write.mode("overwrite").parquet(str(path / "t.parquet"))


def test_snapshot_memo_invalidates_on_rewrite(spark, tmp_path):
    """Also through a Hadoop scheme, listed by Hadoop's FileSystem
    rather than fingerprinted as a constant "missing"."""
    for sf_dir in (str(tmp_path), viewfs_mount(spark, tmp_path)):
        _write_parquet(spark, tmp_path, 5)
        cache: dict = {}
        builds = []

        def build():
            builds.append(1)
            return len(builds)

        assert snapshot_memo(cache, spark, sf_dir, build) == 1
        assert snapshot_memo(cache, spark, sf_dir, build) == 1  # cache hit
        time.sleep(0.01)  # ensure mtime_ns moves even on coarse filesystems
        _write_parquet(spark, tmp_path, 7)
        assert snapshot_memo(cache, spark, sf_dir, build) == 2  # rebuilt
        # stale-fingerprint entry evicted, not accumulated
        assert len([k for k in cache if k[1][0] == sf_dir]) == 1


def test_snapshot_memo_extra_key_separates_models(spark, tmp_path):
    _write_parquet(spark, tmp_path, 3)
    cache: dict = {}
    a = snapshot_memo(cache, spark, str(tmp_path), lambda: "a", extra=(1,))
    b = snapshot_memo(cache, spark, str(tmp_path), lambda: "b", extra=(2,))
    assert (a, b) == ("a", "b")
    assert len(cache) == 2


def test_release_snapshot_drops_only_that_corpus(spark, tmp_path):
    """The multi-corpus probe fix (round 13): release_snapshot must
    sweep snapshot-keyed entries for exactly the released sf_dir from
    every REGISTERED cache, leave other corpora and non-snapshot
    session_memo entries alone, and report the drop count."""
    dir_a, dir_b = tmp_path / "a", tmp_path / "b"
    dir_a.mkdir(), dir_b.mkdir()
    _write_parquet(spark, dir_a, 3)
    _write_parquet(spark, dir_b, 4)
    cache: dict = register_cache({})
    try:
        snapshot_memo(cache, spark, str(dir_a), lambda: "A")
        snapshot_memo(cache, spark, str(dir_b), lambda: "B")
        session_memo(cache, spark, None, lambda: "session-scoped")
        assert len(cache) == 3
        assert release_snapshot(str(dir_a)) == 1
        # dir_b and the non-snapshot entry survive; a re-ask for dir_a
        # rebuilds instead of serving the dropped artifact
        assert len(cache) == 2
        rebuilt = []
        snapshot_memo(
            cache, spark, str(dir_a), lambda: rebuilt.append(1) or "A2"
        )
        assert rebuilt == [1]
        # releasing a corpus nothing was built from is a no-op
        assert release_snapshot(str(tmp_path / "nowhere")) == 0
    finally:
        _REGISTERED_CACHES.remove(cache)


def test_registry_caches_are_registered():
    """Every snapshot-keyed memo dict must be swept by release_snapshot
    — a cache added without register_cache would silently reintroduce
    the cross-corpus pinning the probe fix closed. Covers the cache of
    every memoized ``@artifact`` and the snapshot_memo dicts of the
    facts that are not artifacts. The synthetic-marts cache is
    deliberately NOT snapshot keyed (corpus-independent input) and is
    exempt, as is knn_probe, whose selection memo is listed below."""
    from big_data_analysis_project_spark.registry import (
        ARTIFACTS,
        dedup_q,
        similarity_q,
        streaming_q,
    )

    caches = {
        name: a.accessor.cache
        for name, a in ARTIFACTS.items()
        if name not in ("tb_marts", "knn_probe")
    }
    for mod, name in [
        (dedup_q, "_DF_PROFILE_CACHE"),
        (dedup_q, "_INC_PROFILE_CACHE"),
        (similarity_q, "_KNN_PROBE_CACHE"),
        (streaming_q, "_STREAM_PAIR_PROFILE_CACHE"),
        (streaming_q, "_BACKFILL_PREFLIGHT_CACHE"),
    ]:
        caches[f"{mod.__name__}.{name}"] = getattr(mod, name)
    for name, cache in caches.items():
        assert any(
            cache is c for c in _REGISTERED_CACHES
        ), f"{name} is not registered for release_snapshot"


def test_snapshot_fingerprint_missing_dir(spark, tmp_path):
    assert fingerprint(None, "/nonexistent/path/xyz") == ("<missing>",)
    # an existing dir with no parquet file is empty, not missing, in
    # every form
    mount = viewfs_mount(spark, tmp_path)
    assert fingerprint(spark, mount + "/nope") == ("<missing>",)
    for path in (str(tmp_path), tmp_path.as_uri(), mount):
        assert fingerprint(spark, path) == ()


def test_session_memo_still_keyed_per_application(spark):
    cache: dict = {}
    assert session_memo(cache, spark, "k", lambda: 42) == 42
    app = spark.sparkContext.applicationId
    assert (app, "k") in cache


# --- bench.py bucket accounting (VERDICT r10 #2) -----------------------


def _bucketize():
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import bench

    return bench.bucketize


def test_bench_refusal_plus_genuine_failure_stays_visible():
    """The refusal-masks-failure edge (driver ADVICE r10 / bench.py):
    a key that REFUSED in run 1 but raised a GENUINE exception in
    run 2 is not cleanly refusing — it must surface in `flaky` AND the
    refusal entry must carry the real error in `also_failed`, never
    vanish between the buckets."""
    bucketize = _bucketize()
    timings, failures, refusals, flaky = bucketize(
        per_run={},
        fail_runs={"k": {1: "ValueError: boom"}},
        refusal_runs={"k": {"message": "over budget", "measured": 9}},
    )
    assert timings == {} and failures == {}
    assert "k" in refusals
    assert refusals["k"]["also_failed"] == "run1: ValueError: boom"
    assert flaky == {"k": "run1: ValueError: boom"}


def test_bench_bucket_rules_cover_the_matrix():
    """All four outcome combinations land in exactly one visible place:
    success-only -> timings; fail-only -> failures; refuse-only ->
    refusals; success+fail -> timings + flaky (no failure entry)."""
    bucketize = _bucketize()
    timings, failures, refusals, flaky = bucketize(
        per_run={"ok": [2.0, 1.0], "mixed": [3.0]},
        fail_runs={"dead": {0: "E: a", 1: "E: b"}, "mixed": {1: "E: c"}},
        refusal_runs={"guarded": {"message": "refused", "budget": 1}},
    )
    assert timings == {"ok": 1.0, "mixed": 3.0}  # min of runs
    assert failures == {"dead": "run0: E: a; run1: E: b"}
    assert refusals == {"guarded": {"message": "refused", "budget": 1}}
    assert flaky == {"mixed": "run1: E: c"}
    # a key that refused in one run and SUCCEEDED in another keeps its
    # timing and drops out of the refusal bucket (it did produce rows)
    t2, f2, r2, fl2 = bucketize(
        per_run={"k": [1.5]}, fail_runs={}, refusal_runs={"k": {"message": "m"}}
    )
    assert t2 == {"k": 1.5} and r2 == {} and f2 == {} and fl2 == {}


def test_warm_shared_artifacts_marks_refused_builds(spark, tmp_path, monkeypatch):
    """ADVICE r10: a refused artifact build must be distinguishable
    from a warmed one in the returned map — recorded under
    '<name>!refused' (float value: the real probe time) — while
    independent artifacts still warm."""
    import big_data_analysis_project_spark.registry.dedup_q as D
    from big_data_analysis_project_spark.registry import warm_shared_artifacts
    from pyspark.sql import functions as F

    rows = [(i, "alpha beta gamma delta epsilon", "en", "t") for i in range(3)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text")).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    spark.createDataFrame(
        # dim 16: the PQ codebook builder splits the vector into
        # 8 subspaces, so the fixture dim must be a multiple of 8
        [(i, [float(i % 7 + d) for d in range(16)], 0) for i in range(12)],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    monkeypatch.setattr(D, "EVIDENCE_PAIRS_BUDGET", 1)
    monkeypatch.delenv("SPARK_GRAFT_EVIDENCE_PAIRS_CAP", raising=False)
    out = warm_shared_artifacts(spark, str(tmp_path))
    assert "shingle_evidence!refused" in out
    assert "shingle_evidence" not in out
    assert "ngram_pairs!refused" in out  # downstream of the refused build
    assert isinstance(out["shingle_evidence!refused"], float)
    # independent artifacts still warmed under their plain names
    for name in ("shingles", "minhash_pairs", "unit_vectors", "tb_marts"):
        assert name in out, out.keys()
    assert all(isinstance(v, float) for v in out.values())  # sum() safe


def test_bench_facade_passthrough_bucket():
    """VERDICT r11 #6 + round-12 review: EVERY timed facade's seconds
    duplicate an already-counted row — the head at passthrough scales,
    the bounded tier at guarded scales (both are registered keys the
    loop times separately) — so both belong in the bucket. Only
    facades absent from timings (the route itself dead-ended, e.g. a
    double refusal) stay out: nothing ran, nothing duplicated."""
    import bench

    timings = {"routed_a": 2.0, "routed_b": 3.0, "head_a": 2.1}
    last_route = {
        "routed_a": {"rerouted": False, "ran": "head_a"},
        "routed_b": {"rerouted": True, "ran": "head_b_lsh"},
        "routed_c": {"rerouted": False, "ran": "head_c"},  # dead-ended
    }
    assert bench.facade_passthroughs(timings, last_route) == {
        "routed_a": 2.0,
        "routed_b": 3.0,
    }


def test_bench_equivalent_rerun_config_mismatch(tmp_path, monkeypatch):
    """VERDICT r12 #4 follow-through: two artifacts with different run
    configs (heap, partitions) are non-comparable by definition — the
    rerun-dedup must NOT keep an old-config artifact just because the
    totals land within 20% noise."""
    import json as _json

    import bench

    monkeypatch.delenv("SPARK_GRAFT_BENCH_FORCE", raising=False)
    base = {
        "value": 100.0, "rows": {"k": 1}, "sf": 0.1, "runs": 2,
        "queries": {"k": 100.0},
        "failures": {}, "refusals": {}, "flaky": {},
        "config": {"jvm_max_heap_gb": 16.0, "shuffle_partitions": "32"},
    }
    p = tmp_path / "bench_full.json"
    p.write_text(_json.dumps(base))

    same = dict(base, value=105.0)  # within 20%: equivalent rerun
    assert bench._equivalent_rerun(p, same)

    heap_moved = dict(
        same, config={"jvm_max_heap_gb": 64.0, "shuffle_partitions": "32"}
    )
    assert not bench._equivalent_rerun(p, heap_moved)

    # provenance buckets compare by CONTENT (round-13 review): a
    # shipped-tier flip or an n_probe dial change keeps the key set
    # but describes a different run
    base_q = dict(
        base,
        quality_refusals={"ann_knn_join": {"tier": "ann_knn_join"}},
        knn_probe={"n_probe": 8},
    )
    p.write_text(_json.dumps(base_q))
    assert bench._equivalent_rerun(p, dict(base_q, value=104.0))
    tier_flip = dict(
        base_q, quality_refusals={"ann_knn_join": {"tier": "ann_knn_exact"}}
    )
    assert not bench._equivalent_rerun(p, tier_flip)
    dial_moved = dict(base_q, knn_probe={"n_probe": 19})
    assert not bench._equivalent_rerun(p, dial_moved)

    # an old artifact with NO config block is likewise not equivalent
    # to a new run that records one (the block's absence is the
    # round-12 blind spot this field exists to close)
    no_cfg = {k: v for k, v in base.items() if k != "config"}
    p.write_text(_json.dumps(no_cfg))
    assert not bench._equivalent_rerun(p, same)


def test_bench_quality_bucket_rules():
    """VERDICT r11 #7: quality degradation reads uniformly with cost
    refusals — strict refusals (kind=quality payloads), routed double
    refusals (a quality hop inside a NoBoundedTier), and the
    non-strict sub-target SHIP all land in quality_refusals with an
    explicit `shipped` flag; pure cost refusals stay out."""
    import bench

    refusals = {
        "ann_knn_join": {"kind": "quality", "measured": 0.44, "budget": 0.95},
        "routed_knn": {
            "hops": [
                {"key": "ann_knn_join", "outcome": "refused",
                 "refusal": {"kind": "quality"}},
                {"key": "ann_knn_exact", "outcome": "refused",
                 "refusal": {"kind": "cost"}},
            ]
        },
        "dedup_embedding": {"measured": 2_000_000_000, "budget": 250_000_000},
    }
    qb = bench.quality_bucket(refusals, None, 0.95)
    assert set(qb) == {"ann_knn_join", "routed_knn"}
    assert all(v["shipped"] is False for v in qb.values())

    # non-strict sub-target ship: provenance-only entry, shipped=True;
    # without a tier field the shipped tier defaults to the head
    qb2 = bench.quality_bucket(
        {}, {"mode": "preflight", "strict": False, "predicted_recall": 0.61}, 0.95
    )
    assert qb2["ann_knn_join"]["shipped"] is True
    assert qb2["ann_knn_join"]["predicted_recall"] == 0.61
    assert qb2["ann_knn_join"]["tier"] == "ann_knn_join"

    # mid-scale upgrade (VERDICT r12 #3): sub-target recall but the
    # exact tier was affordable — shipped=True with tier naming the
    # exact join, note saying recall 1.0 shipped
    qb_up = bench.quality_bucket(
        {},
        {"mode": "preflight", "strict": False, "predicted_recall": 0.61,
         "tier": "ann_knn_exact", "upgraded": True},
        0.95,
    )
    assert qb_up["ann_knn_join"]["shipped"] is True
    assert qb_up["ann_knn_join"]["tier"] == "ann_knn_exact"
    assert "exact tier" in qb_up["ann_knn_join"]["note"]

    # budget-0 override: the exact tier was NOT over budget — the note
    # must name the declined-by-override rule, not claim over-budget
    # (round-13 review)
    qb_ovr = bench.quality_bucket(
        {},
        {"mode": "preflight", "strict": False, "predicted_recall": 0.61,
         "tier": "ann_knn_join", "exact_pairs_bound": 100, "exact_budget": 0},
        0.95,
    )
    assert qb_ovr["ann_knn_join"]["tier"] == "ann_knn_join"
    assert "override" in qb_ovr["ann_knn_join"]["note"]
    assert "over budget" not in qb_ovr["ann_knn_join"]["note"]

    # at/above target, or strict (the refusal already bucketed), or
    # fixed-k: nothing to report
    assert bench.quality_bucket({}, {"mode": "preflight", "strict": False,
                                     "predicted_recall": 0.97}, 0.95) == {}
    assert bench.quality_bucket({}, {"mode": "preflight", "strict": True,
                                     "predicted_recall": 0.61}, 0.95) == {}
    assert bench.quality_bucket({}, {"mode": "fixed_k_default"}, 0.95) == {}

    # import-failure path (VERDICT r12 #6): target=None means
    # KNN_TARGET_RECALL itself was unimportable — the sub-target-ship
    # classification is SKIPPED (no stale hard-coded bar), while
    # payload-kind quality refusals still bucket
    qb_none = bench.quality_bucket(
        refusals,
        {"mode": "preflight", "strict": False, "predicted_recall": 0.61},
        None,
    )
    assert set(qb_none) == {"ann_knn_join", "routed_knn"}
    assert all(v["shipped"] is False for v in qb_none.values())


def test_mllib_model_memoized_per_snapshot(spark):
    """r14: the MLlib interop features+model build is memoized per
    corpus snapshot (the pca_model discipline) — a second call must
    return the SAME checkpointed frame and fitted model, not rebuild."""
    from big_data_analysis_project_spark.registry.dedup_q import (
        mllib_model_cached,
    )

    from .conftest import SF_SMOKE

    feats1, model1 = mllib_model_cached(spark, SF_SMOKE)
    feats2, model2 = mllib_model_cached(spark, SF_SMOKE)
    assert feats1 is feats2 and model1 is model2
    assert "features" in feats1.columns


def test_warm_mllib_model_refuses_where_the_key_would(spark, monkeypatch):
    """The model build prices the corpus with the key's own guard so a
    guarded corpus never pays even the linear TF build. Calls the
    unmemoized build: a model memoized by an earlier test would
    otherwise be served without building."""
    import pytest as _pytest

    from big_data_analysis_project_spark.registry._base import ScaleRefusal
    from big_data_analysis_project_spark.registry.dedup_q import (
        mllib_model_cached,
    )

    from .conftest import SF_SMOKE

    monkeypatch.setenv("SPARK_GRAFT_MLLIB_PAIRS_CAP", "1")
    with _pytest.raises(ScaleRefusal):
        mllib_model_cached.__wrapped__(spark, SF_SMOKE)
