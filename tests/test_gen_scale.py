"""tools/gen_scale.py contract: the scale-up must be STRUCTURE-
PRESERVING, because the probe's scaling exponents are only meaningful
if per-key densities, token counts, and vector geometry survive the
replication (BENCH_SCALE.md's premise)."""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

from big_data_analysis_project_spark.functions.text import ws_count

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from .conftest import SF_SMOKE

REPLICAS = 2


def _generated(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("genscale")
    from gen_scale import generate

    generate(spark, SF_SMOKE, str(out), REPLICAS)
    return out


def test_gen_scale_structure(spark, tmp_path_factory):
    out = _generated(spark, tmp_path_factory)
    rd = lambda t: spark.read.parquet(str(out / f"{t}.parquet"))  # noqa: E731
    base = lambda t: spark.read.parquet(f"{SF_SMOKE}/{t}.parquet")  # noqa: E731

    # fact tables scale by REPLICAS with key cardinality scaling too
    # (constant per-key group sizes — the TPC-H model)
    for t, key in [
        ("lineitem", "l_orderkey"),
        ("orders", "o_orderkey"),
        ("customer", "c_custkey"),
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        ("events", "event_id"),
    ]:
        nb, db = base(t).count(), base(t).select(key).distinct().count()
        ng, dg = rd(t).count(), rd(t).select(key).distinct().count()
        assert ng == REPLICAS * nb, t
        assert dg == REPLICAS * db, t

    # dims copied verbatim
    for t in ("region", "nation", "part", "supplier"):
        assert rd(t).count() == base(t).count()

    # document replicas: token count per doc preserved, shingle sets
    # DISJOINT across replicas (the anti-blowup property), replica 0
    # verbatim
    docs = rd("documents")
    ntok = ws_count("text")
    doc_stride = base("documents").agg(F.max("doc_id")).collect()[0][0] + 1
    toks = docs.select(
        (F.col("doc_id") % doc_stride).alias("orig"),
        (F.col("doc_id") >= doc_stride).cast("int").alias("replica"),
        ntok.alias("n"),
        "text",
    )
    per_orig = toks.groupBy("orig").agg(F.count_distinct("n").alias("k"))
    assert per_orig.filter(F.col("k") > 1).count() == 0  # token counts match
    # n_chars recomputed consistently with the salted text
    assert docs.filter(F.length("text") != F.col("n_chars")).count() == 0
    # replica-0 text verbatim
    orig_text = base("documents").select("doc_id", F.col("text").alias("t0"))
    r0 = docs.filter(F.col("doc_id") < doc_stride).join(orig_text, "doc_id")
    assert r0.filter(F.col("text") != F.col("t0")).count() == 0
    # cross-replica shingle overlap is zero (token salt disjoints them)
    sh = docs.select(
        (F.col("doc_id") >= doc_stride).cast("int").alias("replica"),
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim("text")), r"\s+"))
        ).alias("w"),
    ).distinct()
    both = sh.groupBy("w").agg(F.count_distinct("replica").alias("r"))
    assert both.filter(F.col("r") > 1).count() == 0

    # embedding replicas: norms exactly preserved under rotation
    emb = rd("embeddings")
    vec_stride = base("embeddings").agg(F.max("vec_id")).collect()[0][0] + 1
    norm2 = F.aggregate(
        F.transform(F.col("embedding").cast("array<double>"), lambda x: x * x),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    norms = emb.select(
        (F.col("vec_id") % vec_stride).alias("orig"), F.round(norm2, 9).alias("n2")
    )
    assert (
        norms.groupBy("orig").agg(F.count_distinct("n2").alias("k"))
        .filter(F.col("k") > 1)
        .count()
        == 0
    )


def test_gen_scale_skew_structure(spark, tmp_path_factory):
    """--skew contract (VERDICT r6 #4): same sizes as the uniform twin,
    but zipf fact keys, one hot near-dup document family, and a dense
    embedding cluster — each pinned black-box so the skew probe's
    'cost of skew' ratios measure the operators, not generator drift."""
    out = tmp_path_factory.mktemp("genskew")
    from gen_scale import generate

    generate(spark, SF_SMOKE, str(out), REPLICAS, skew=True)
    rd = lambda t: spark.read.parquet(str(out / f"{t}.parquet"))  # noqa: E731
    base = lambda t: spark.read.parquet(f"{SF_SMOKE}/{t}.parquet")  # noqa: E731

    # sizes match the uniform twin exactly — skew changes values only
    for t in ("orders", "events", "documents", "embeddings"):
        assert rd(t).count() == REPLICAS * base(t).count(), t

    # zipf o_custkey: hottest key carries a real share (zipf(1) rank-1
    # share ~ 1/H_n >> uniform 1/n) and every key stays a valid FK rank
    orders = rd("orders")
    n = orders.count()
    cust_stride = base("customer").agg(F.max("c_custkey")).collect()[0][0] + 1
    top = (
        orders.groupBy("o_custkey").count()
        .orderBy(F.desc("count")).first()
    )
    assert top["count"] / n >= 0.04, "zipf hot key share too small"
    lo, hi = orders.agg(F.min("o_custkey"), F.max("o_custkey")).collect()[0]
    assert lo >= 1 and hi <= cust_stride * REPLICAS

    # hot doc family: ~1/20 of docs share the template's shingles but
    # are pairwise DISTINCT texts (near-dups, not exact dups)
    docs = rd("documents")
    hot = docs.filter(F.col("text").startswith("this content is provided"))
    share = hot.count() / docs.count()
    assert 0.02 <= share <= 0.10, f"hot family share {share:.3f}"
    assert hot.select("text").distinct().count() == hot.count()

    # dense embedding cluster: ~1/4 of vectors pulled toward a fixed
    # direction (cosine to all-ones ~1); the uniform twin has none
    emb = rd("embeddings").select(F.col("embedding").cast("array<double>").alias("e"))
    dot1 = F.aggregate("e", F.lit(0.0), lambda a, x: a + x)
    norm = F.sqrt(F.aggregate("e", F.lit(0.0), lambda a, x: a + x * x))
    dim = len(base("embeddings").select("embedding").first()[0])
    cos1 = dot1 / (norm * F.sqrt(F.lit(float(dim))))
    dense_share = emb.filter(cos1 > 0.9).count() / emb.count()
    assert 0.15 <= dense_share <= 0.35, f"dense cluster share {dense_share:.3f}"

    # zipf event users: hottest user concentrates session/window state
    ev = rd("events")
    top_u = ev.groupBy("user_id").count().orderBy(F.desc("count")).first()
    assert top_u["count"] / ev.count() >= 0.04
