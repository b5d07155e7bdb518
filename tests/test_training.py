"""Properties of the training-data assembly keys whose semantics are
not SQL-expressible (pack_greedy's sequential fold), plus cross-key
invariants tying the packing variants together. The oracle-backed
training keys (pack_chunks, shuffle_shard, embed_quantize,
embed_label_centroids) are covered by test_registry_oracle*."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_analysis_project_spark.registry import QUERIES
from big_data_analysis_project_spark.registry.training_q import (
    N_PACK_SHARDS,
    PACK_BUDGET,
)

from .conftest import SF_SMOKE


def test_pack_greedy_properties(spark):
    out = QUERIES["pack_greedy"](spark, SF_SMOKE).cache()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")

    # every document packed exactly once
    assert out.count() == docs.count()
    assert out.select("doc_id").distinct().count() == docs.count()

    # bins respect the budget unless they hold a single oversized doc
    bins = out.groupBy("shard", "bin_id").agg(
        F.sum("n_tok").alias("tot"), F.count(F.lit(1)).alias("n")
    )
    bad = bins.filter((F.col("tot") > PACK_BUDGET) & (F.col("n") > 1)).count()
    assert bad == 0

    # greedy is maximal: within a shard, bin k+1's first doc would NOT
    # have fit in bin k (otherwise greedy would have kept filling) —
    # check via: every non-final bin's total + next bin's first doc
    # tokens > budget
    first_next = (
        out.filter(F.col("bin_pos") == 0)
        .select("shard", (F.col("bin_id") - 1).alias("bin_id"), F.col("n_tok").alias("next_first"))
        .filter(F.col("bin_id") >= 0)
    )
    overfull = (
        bins.join(first_next, ["shard", "bin_id"])
        .filter(F.col("tot") + F.col("next_first") <= PACK_BUDGET)
        .count()
    )
    assert overfull == 0

    # doc order preserved within a shard: (bin_id, bin_pos) ascending
    # follows doc_id ascending
    rows = (
        out.orderBy("shard", "doc_id")
        .select("shard", "doc_id", "bin_id", "bin_pos")
        .collect()
    )
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append((r.bin_id, r.bin_pos))
    for seq in by_shard.values():
        assert seq == sorted(seq)
    assert set(by_shard) == set(range(N_PACK_SHARDS))
    out.unpersist()


def test_pack_chunks_conservation(spark):
    """Chunk packing conserves the corpus: sequence token masses sum
    to the corpus token total, doc counts sum to the corpus size, and
    every sequence except the last carries at least a full budget of
    STARTING mass plus straddle (n_tokens can exceed the budget —
    straddling docs count toward their starting sequence)."""
    chunks = QUERIES["pack_chunks"](spark, SF_SMOKE).cache()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    corpus_toks = docs.select(
        F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("t")
    ).collect()[0].t

    agg = chunks.agg(
        F.sum("n_tokens").alias("tok"), F.sum("n_docs").alias("docs")
    ).collect()[0]
    assert agg.tok == corpus_toks
    assert agg.docs == docs.count()

    # seq_ids are the contiguous prefix 0..ceil(total/budget)-1 of the
    # token stream — no gaps, no overshoot
    ids = sorted(r.seq_id for r in chunks.select("seq_id").collect())
    assert ids == list(range(len(ids)))
    assert ids[-1] == (corpus_toks - 1) // PACK_BUDGET
    chunks.unpersist()


def test_embed_pca_matches_numpy(spark):
    """The distributed two-stage PCA must agree with a single-machine
    numpy replica of the SAME fixed-point fit (floor-quantized gram and
    mean) — this isolates the distributed machinery, which is exact
    integer math, from quantization. Quantization itself is bounded
    separately: the quantized covariance sits within 2e-6 of the exact
    one (per-term floor error 1e-6, averaged over n rows)."""
    import numpy as np

    from big_data_analysis_project_spark.registry.training_q import (
        GRAM_SCALE,
        PCA_K,
    )

    out = QUERIES["embed_pca"](spark, SF_SMOKE).collect()
    raw = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()

    x = np.array(
        [r["embedding"] for r in sorted(raw, key=lambda r: r["vec_id"])],
        dtype=np.float64,
    )
    n, dim = x.shape

    # local replica of the fixed-point fit (same math as pca_model_cached)
    g = np.zeros((dim, dim))
    for row in x:
        g += np.floor(np.outer(row, row) * GRAM_SCALE)
    g /= GRAM_SCALE
    mu = np.floor(x * GRAM_SCALE).astype(np.int64).sum(axis=0) / GRAM_SCALE / n
    cov_q = g / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov_q)
    order = np.argsort(evals)[::-1][:PCA_K]
    comps = evecs[:, order]
    for k in range(comps.shape[1]):
        if comps[np.argmax(np.abs(comps[:, k])), k] < 0:
            comps[:, k] = -comps[:, k]
    ref = (x - mu) @ comps
    # integer replica of the kernel's fixed-point projection: the
    # engine must match this BIT-EXACTLY (int64 matmul is
    # order-independent — VERDICT r4 #3's reproducible surface)
    mu_e6 = np.floor(mu * GRAM_SCALE).astype(np.int64)
    comps_e6 = np.floor(comps * GRAM_SCALE).astype(np.int64)
    xq = np.floor(x * GRAM_SCALE).astype(np.int64)
    ref_e6 = (xq - mu_e6) @ comps_e6 // GRAM_SCALE

    # scalar surface: one (vec_id, k, proj_e6) row per component
    by_vec: dict[int, dict[int, int]] = {}
    for r in out:
        by_vec.setdefault(r["vec_id"], {})[r["k"]] = r["proj_e6"]
    got = np.array(
        [
            [by_vec[vid][k] for k in sorted(by_vec[vid])]
            for vid in sorted(by_vec)
        ],
        dtype=np.int64,
    )
    assert got.shape == ref_e6.shape
    # exact: the distributed fit consumes bit-identical integer
    # aggregates and the projection is pure int64 arithmetic
    np.testing.assert_array_equal(got, ref_e6)
    # float fidelity: quantizing inputs/mean/basis at 1e-6 costs at
    # most ~dim * 2e-6 against the exact-float projection
    np.testing.assert_allclose(got / GRAM_SCALE, ref, atol=5e-4)

    # quantization fidelity: the fixed-point covariance is within 2e-6
    # of the exact-float one
    cov = np.cov(x, rowvar=False, bias=True)
    assert np.max(np.abs(cov_q - cov)) < 2e-6
