"""Similarity search over the embeddings table (Phase E): brute-force
cosine top-k as the exactness baseline, random-hyperplane LSH, IVF,
and PQ/ADC as the scale paths.

Two execution tiers, chosen by shape:
* expression-shaped work (one dot per row against a constant query)
  stays in JVM higher-order functions (zip_with/aggregate) inside
  whole-stage codegen;
* matmul-shaped work (score every vector against a k-centroid MODEL)
  runs as zero-copy ``mapInArrow`` BLAS kernels — Spark has no native
  dense matmul, and both declarative restatements (k x dim literal
  expressions, posexplode + broadcast-join re-agg) lose by an order of
  magnitude (measured; see assign_cells / pq_encode). The kernels are
  embarrassingly parallel: scan -> ArrowEvalPython -> rows, no shuffle.
Model training (k-means / PQ codebooks) runs driver-side in numpy on a
deterministically-sampled, size-BOUNDED training set — model-sized
work on model-sized data; only assignment touches the corpus.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import env_int
from ..sources.readers import load_table

from ._base import ScaleRefusal, make_registry
from ._memo import artifact, register_cache, snapshot_memo

QUERIES, ORACLE, q = make_registry()


TOP_K = 10
QUERY_VEC_ID = 0

# deterministic hyperplanes for LSH bucketing (fixed LCG). Multi-table
# LSH: N_TABLES independent plane sets; a corpus vector is a candidate
# if it collides with the query (within hamming<=1) in ANY table —
# union-of-tables recall compounds (miss prob = prod of per-table miss)
# while per-table probe cost stays 9/2^8 of the corpus.
_DIM = 64
_N_PLANES = 8
_N_TABLES = 4


def _planes(n: int = _N_PLANES, dim: int = _DIM, seed: int = 7) -> list[list[float]]:
    state = seed
    planes = []
    for _ in range(n):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append((state / float(1 << 63)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


@artifact("unit_vectors")
def unit_vectors_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eagerly-checkpointed unit-vector frame, memoized per
    (session, sf_dir): ann_ivf / ann_ivf_pq / ann_knn_join /
    dedup_semantic all consume the identical normalize across several
    actions each — one materialization serves the whole family, the
    way a production deployment normalizes at ingest once. Keyed on
    the snapshot FINGERPRINT, not just the path, so a rewritten
    sf_dir within one session rebuilds instead of serving the stale
    checkpoint (ADVICE r5 #4)."""
    return _unit_vectors(spark, sf_dir).localCheckpoint(eager=True)


@artifact("query_vec", parents={"unit_vectors"})
def query_unit_cached(spark: SparkSession, sf_dir: str) -> list[float]:
    """The normalized query vector (vec_id == QUERY_VEC_ID) memoized
    per corpus snapshot (optimization r14): every single-query ANN key
    (ann_ivf, ann_pq, ann_ivf_pq) re-ran the same 1-row filter+collect
    job per call — a deterministic snapshot scalar exactly like the
    stream pre-flight scalars memoized in r13. Values are the
    checkpointed unit frame's own (JVM-normalized) doubles, so every
    consumer sees bit-identical coordinates."""
    return [
        float(x)
        for x in unit_vectors_cached(spark, sf_dir)
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("v")
        .collect()[0]
        .v
    ]


@artifact(
    "ivf_model",
    parents={"unit_vectors"},
    extra=lambda: (N_CENTROIDS, _LLOYD_ITERS, _TRAIN_SAMPLE_TARGET),
)
def ivf_centroids_cached(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """``train_ivf_centroids`` over the memoized unit frame, itself
    memoized per (session, sf_dir, hyperparams): the coarse quantizer
    is index-build state — every IVF consumer (ann_ivf, ann_ivf_pq,
    ann_knn_join, dedup_semantic) routes through the SAME model, so
    training (count + bounded collect + driver Lloyd) runs once per
    corpus snapshot instead of once per key. Deterministic input →
    identical centroids, so per-key results are unchanged. Snapshot-
    fingerprint keyed like ``unit_vectors_cached``."""
    return train_ivf_centroids(unit_vectors_cached(spark, sf_dir))


# target per-cell population for BATCH (all-vs-all) consumers. Derived
# so k == N_CENTROIDS at the bench corpus (2000 vectors / 16 cells =
# 125): every driver-checked scale (sf0.001/0.01/0.1 — at most 2000
# vectors) gets the IDENTICAL model and identical results, while any
# larger corpus gets proportionally more cells. The law this encodes
# is MEASURED in BENCH_SCALE.md: at 30x bench scale the fixed-k batch
# join hit its quadratic asymptote (6.2 s -> 108 s for 3x data) while
# constant-cell-population stayed flat (3.9 s -> 4.1 s).
BATCH_CELL_TARGET = 125


@artifact(
    "batch_model",
    parents={"unit_vectors", "ivf_model"},
    extra=lambda: (
        N_CENTROIDS,
        BATCH_CELL_TARGET,
        _LLOYD_ITERS,
        _TRAIN_SAMPLE_TARGET,
        _DRIVER_SAMPLE_CAP,
    ),
)
def batch_centroids_cached(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """The BATCH-consumer quantizer: cells grown in proportion to the
    corpus (k = max(N_CENTROIDS, round(n / BATCH_CELL_TARGET))) so the
    per-cell population — and with it the n*probes*(n/k) scored-pair
    total of ann_knn_join / the (n/k)^2-per-cell prune of
    dedup_semantic — stays bounded as the corpus grows. Single-query
    keys keep the fixed-k ``ivf_centroids_cached`` model (k ~ sqrt(n)
    is their latency optimum; more cells at fixed probes only cuts
    their recall). Delegates to the shared model when the sizes agree,
    so at every test/bench scale this IS the shared model — one
    training, bit-identical results."""
    unit = unit_vectors_cached(spark, sf_dir)
    k = max(N_CENTROIDS, round(unit.count() / BATCH_CELL_TARGET))
    if k == N_CENTROIDS:
        return ivf_centroids_cached(spark, sf_dir)
    # training sample grows with k (>=4 points/cell) but stays
    # driver-bounded at _DRIVER_SAMPLE_CAP x dim doubles (~25 MB);
    # past the cap training moves OFF the driver entirely:
    # ``train_ivf_centroids_mllib`` runs distributed k-means over the
    # full unit frame and returns the same list[list[float]] model, so
    # the assignment/probe kernels never know which trainer fit the
    # model (VERDICT r6 #2 — previously a documented handoff, now code;
    # equivalence pinned in tests/test_batch_quantizer.py)
    if 4 * k > _DRIVER_SAMPLE_CAP:
        return train_ivf_centroids_mllib(unit, k=k)
    sample = min(_DRIVER_SAMPLE_CAP, max(_TRAIN_SAMPLE_TARGET, 4 * k))
    return train_ivf_centroids(unit, k=k, sample_target=sample)


def _unit_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings -> (vec_id, v): float32 promoted to double (exact)
    and normalized onto the unit sphere — the shared working form of
    every ANN key (cosine == dot on unit vectors). Narrow per-row
    math; callers that feed several actions checkpoint the result
    (or use ``unit_vectors_cached`` to share one materialization)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("raw")
    )
    return e.withColumn("n", _norm(F.col("raw"))).select(
        "vec_id", F.transform("raw", lambda x: x / F.col("n")).alias("v")
    )


def _topk_by_cosine(scored: DataFrame, k: int = TOP_K) -> DataFrame:
    """The shared output contract of every ANN key: top-k by raw
    cosine, ties to the lowest vec_id, cosine rounded to 4dp — one
    place so a contract change (rounding, tie-break) cannot drift
    between the exact baseline and the approximate paths."""
    return (
        scored.orderBy(F.desc("cosine_raw"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round("cosine_raw", 4).alias("cosine"))
    )



@q(
    "ann_cosine_topk",
    f"""WITH query AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
       SELECT vec_id, ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 4) AS cosine
       FROM embeddings, query
       WHERE vec_id <> {QUERY_VEC_ID}
       ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) DESC, vec_id
       LIMIT {TOP_K}""",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for one query vector: broadcast the
    query, one narrow pass over the corpus, TakeOrderedAndProject for
    the top-k (per-partition heaps, no global sort). This is the
    exact baseline every ANN variant is measured against."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # query norm precomputed into the 1-row broadcast frame: inside the
    # scored expression it would be re-evaluated for every corpus row
    query = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv"), _norm(F.col("v")).alias("qn")
    )
    scored = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(query))
        .withColumn(
            "cosine_raw", _dot(F.col("v"), F.col("qv")) / (_norm(F.col("v")) * F.col("qn"))
        )
    )
    return _topk_by_cosine(scored)


N_CENTROIDS = 16
N_PROBE = 4
_LLOYD_ITERS = 2


def _kernel_chunk_rows(k: int) -> int:
    """Rows per matmul sub-chunk inside the Arrow kernels: the
    (rows x k) fixed-point dots matrix is the kernels' only
    k-proportional allocation, and at grown-k it dwarfs the batch
    itself — measured round 9: k=13,600 with default 10k-row Arrow
    batches allocates ~2.2 GB of (float64 + int64) scratch PER WORKER,
    and 32 workers host-OOMed a 125 GiB box during the natural-scale
    quantizer probe. Chunking rows to ~4e6 dot entries bounds scratch
    at ~64 MB/worker REGARDLESS of model size; at k <= 400 the chunk
    exceeds the default 10k-row Arrow batch, so chunking is a no-op at
    every driver/bench scale — at k = 480 (the sf3 probe) it already
    engages (4e6 // 480 = 8,333 < 10k; ADVICE r9). Per-row outputs
    are unchanged either way — every op is row-local."""
    return max(1, 4_000_000 // max(1, k))


def assign_cells(unit: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(vec_id, v) -> (vec_id, v, cell): nearest-centroid (max-dot)
    assignment as a ``mapInArrow`` BLAS kernel — each Arrow batch's
    vectors reshape zero-copy into an (n x dim) matrix, one matmul
    against the broadcast (k x dim) centroid matrix scores every
    (vector, cell) pair, and a row-wise argmax picks the cell. The
    model rides the task closure (k x dim doubles — model-sized, not
    data-sized).

    Why this shape: Spark has no native dense matmul, and the two
    declarative alternatives both lose at scale — a k x dim
    literal-array argmax expression costs codegen that grows with
    k*dim, and a posexplode + broadcast-join + re-agg restatement
    shuffles n*k narrow rows (61M at a mere 60k x 16 — measured 8.5s
    where this kernel is sub-second). Embarrassingly parallel:
    scan -> ArrowEvalPython -> done, NO shuffle and no join-back (the
    vectors pass through the same batch). Each row's dot products are
    a sequential C loop over its own values, so assignment is
    deterministic run-to-run regardless of partitioning — unlike any
    distributed-sum restatement. np.argmax ties break to the FIRST
    (lowest) cell id, matching argmax-first semantics.

    The routing dots are floor-quantized at 1e-6 before the argmax —
    the same fixed-point discipline as the kNN scoring kernel (ADVICE
    r5 #1: a raw float64 BLAS matmul's blocked reductions can differ
    across BLAS builds, and a near-tie at the argmax boundary would
    flip the assignment — and every downstream rows-only hash — on
    another host). After flooring, a cross-build ulp difference can
    change the result only when a true dot sits exactly on a 1e-6
    quantization boundary AND ties another cell's bucket — the same
    measure-zero caveat embed_pca documents."""
    import numpy as np
    import pyarrow as pa

    cmat = np.asarray(centroids, dtype=np.float64)  # (k, dim)
    chunk = _kernel_chunk_rows(len(centroids))

    def kernel(batches):
        for batch in batches:
            ids = batch.column("vec_id")
            v = batch.column("v")
            n = len(ids)
            if n == 0:
                continue
            offs = v.offsets.to_numpy(zero_copy_only=False)
            dim = int(offs[1] - offs[0])
            flat = v.flatten().to_numpy(zero_copy_only=False)
            x = flat.reshape(n, dim)
            cells = []
            for st in range(0, n, chunk):  # bounded (chunk x k) scratch
                dots = np.floor(
                    (x[st : st + chunk] @ cmat.T) * 1_000_000
                ).astype(np.int64)  # fixed-point
                cells.append(np.argmax(dots, axis=1).astype(np.int32))
            cell = np.concatenate(cells) if len(cells) > 1 else cells[0]
            yield pa.RecordBatch.from_arrays(
                [ids, v, pa.array(cell, type=pa.int32())],
                names=["vec_id", "v", "cell"],
            )

    return unit.select("vec_id", "v").mapInArrow(
        kernel, "vec_id bigint, v array<double>, cell int"
    )


_TRAIN_SAMPLE_TARGET = 2_000

# largest training sample the driver-Lloyd path may collect (~25 MB of
# dim-64 doubles). A corpus whose cell count needs a bigger sample
# (4 points/cell => k > 12 500 => n > 1.56 M vectors) trains its
# quantizer DISTRIBUTED instead (train_ivf_centroids_mllib) — nothing
# corpus-sized ever crosses the driver regardless of scale.
# SPARK_GRAFT_DRIVER_SAMPLE_CAP overrides (VERDICT r7 #2): the probe
# scales top out at 60 k vectors, so exercising the distributed
# trainer in a MEASURED run (not just the lowered-cap unit test)
# requires forcing the handoff below its natural n ~ 1.56 M threshold.
_DRIVER_SAMPLE_CAP = env_int("SPARK_GRAFT_DRIVER_SAMPLE_CAP", 50_000)
if _DRIVER_SAMPLE_CAP != 50_000:
    # loud notice on override (ADVICE r8): the cap reroutes trainer
    # SELECTION (driver-Lloyd vs distributed MLlib), and a stale
    # export left over from a probe run would silently change which
    # model every subsequent process in that shell trains
    print(
        "[similarity_q] SPARK_GRAFT_DRIVER_SAMPLE_CAP override active: "
        f"driver sample cap = {_DRIVER_SAMPLE_CAP} (default 50000) — "
        "quantizer trainer selection (driver-Lloyd vs MLlib) is being "
        "rerouted by the environment",
        file=sys.stderr,
    )


def train_ivf_centroids(
    unit: DataFrame,
    k: int = N_CENTROIDS,
    iters: int = _LLOYD_ITERS,
    sample_target: int = _TRAIN_SAMPLE_TARGET,
) -> list[list[float]]:
    """Spherical k-means over a frame of unit vectors (``vec_id``,
    ``v``): seeds are the k smallest-id vectors (deterministic — no
    runtime RNG), then ``iters`` distributed Lloyd passes. Each pass is
    one narrow assignment scan plus a (cell, pos) average aggregation;
    only the kxdim centroid matrix is ever collected — model state,
    not data.

    Training runs on a deterministic modulus sample of ~``sample_target``
    vectors (xxhash64(vec_id) % m == 0 — no RNG, so centroids are
    reproducible): the coarse quantizer needs cluster STRUCTURE, not
    every row, so training cost is independent of corpus size — the
    exact discipline the 100 TB deployment uses (train on a ~1e6-row
    sample, assign the full corpus once). The BOUNDED sample collects
    to the driver and Lloyd runs as numpy matmuls there — model
    training on model-sized data (sample_target x dim doubles, ~1 MB
    here, ~0.5 GB even at 1e6 x 64); a distributed restatement of the
    same passes spends seconds of per-job overhead shuffling a frame
    that fits in L3. Only the k x dim matrix leaves the function.
    Deterministic end to end: modulus sample, smallest-id seeds,
    numpy's fixed reduction order."""
    import numpy as np

    n = unit.count()  # count over a checkpointed frame: metadata-cheap
    train = unit
    if sample_target and n > sample_target:
        m = n // sample_target
        # hash-based (not vec_id % m): a modulus sample assumes dense
        # ids — strided/sparse ids after upstream filtering would match
        # far more (or fewer) rows than the target and break the
        # bounded-collect discipline; xxhash64 is uniform over ANY id
        # distribution and just as deterministic
        train = unit.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(m)) == 0)
    rows = train.select("vec_id", "v").collect()
    rows.sort(key=lambda r: r.vec_id)
    x = np.asarray([r.v for r in rows], dtype=np.float64)  # (n, dim)
    cents = x[:k].copy()  # smallest-id seeds (rows sorted by vec_id)
    for _ in range(iters):
        cell = np.argmax(x @ cents.T, axis=1)
        for ci in range(k):
            members = x[cell == ci]
            if len(members):  # empty cells keep their previous centroid
                mean = members.mean(axis=0)
                norm = float(np.sqrt((mean * mean).sum()))
                if norm > 0:  # renormalize the mean back onto the sphere
                    cents[ci] = mean / norm
    return [list(map(float, c)) for c in cents]


def train_ivf_centroids_mllib(
    unit: DataFrame,
    k: int,
    iters: int = _LLOYD_ITERS,
    seed: int = 7,
) -> list[list[float]]:
    """Distributed quantizer training — the same (unit frame, k) ->
    list[list[float]] contract as ``train_ivf_centroids``, but the fit
    runs as MLlib ``KMeans`` (k-means|| init, distributed Lloyd
    passes) over the FULL unit frame instead of a driver-collected
    sample. This is the path ``batch_centroids_cached`` takes once the
    sample a k-cell model needs exceeds ``_DRIVER_SAMPLE_CAP``: at
    that regime only the k x dim center matrix crosses the driver —
    model-sized — while the training scans stay executor-side.

    Centers are renormalized onto the unit sphere (the consumers score
    by dot product == cosine on unit vectors; MLlib optimizes
    euclidean, and on unit inputs the euclidean-nearest mean is the
    spherical centroid up to its norm) and sorted lexicographically so
    cell ids don't depend on MLlib's init-sampling order. The model is
    NOT bit-identical to driver-Lloyd (different init), which is why
    this path only engages past the cap where driver-Lloyd cannot go;
    same-cells/recall-class equivalence at a checked scale (cap
    artificially lowered) is pinned in tests/test_batch_quantizer.py."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # Deterministic INPUT PARTITIONING before the fit (ADVICE r7):
    # k-means|| init samples per partition, so a fixed seed alone only
    # pins the model given identical partitioning — the same corpus
    # read with a different split count (other host, other
    # maxPartitionBytes) would train a different model and grown-k
    # consumers (ann_knn_join, dedup_semantic) would emit different
    # rows across hosts. Hash-repartitioning by vec_id pins partition
    # MEMBERSHIP; sortWithinPartitions pins intra-partition ORDER
    # (ADVICE r8): k-means|| init consumes rows in partition order
    # with per-partition RNG, and shuffle-fetch order is
    # nondeterministic on a real cluster, so membership alone is not
    # enough — both together make (corpus, seed) -> model a pure
    # function, matching the hash-sample determinism of the
    # driver-Lloyd trainer.
    feat = (
        unit.repartition(32, "vec_id")
        .sortWithinPartitions("vec_id")
        .select(array_to_vector(F.col("v")).alias("features"))
    )
    model = KMeans(
        k=k, maxIter=iters, seed=seed, featuresCol="features"
    ).fit(feat)
    cents: list[list[float]] = []
    for c in model.clusterCenters():
        arr = [float(x) for x in c]
        n = sum(x * x for x in arr) ** 0.5
        cents.append([x / n for x in arr] if n > 0 else arr)
    cents.sort()
    return cents


@q("ann_ivf", artifacts={"ivf_model", "unit_vectors", "query_vec"})  # approximate: rows-only driver check + pytest recall test
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: spherical-k-means coarse quantizer,
    every vector assigned to its nearest of N_CENTROIDS cells, query
    probes its N_PROBE nearest cells, exact cosine re-rank inside the
    probed cells only.

    Scale shape — the complement of the LSH path above: the cell id is
    a data-layout key. Stored partitioned-by-cell (as sink_partitioned
    does for dates), the probe filter becomes partition PRUNING — the
    scan touches N_PROBE/N_CENTROIDS of the corpus and the plan is
    scan -> filter -> TakeOrderedAndProject with no join or shuffle at
    query time. The query vector and the kxdim centroid matrix are the
    only driver-side values (the search argument and the model —
    constant-size, not data). Recall@10 vs ann_cosine_topk is asserted
    in tests/test_recall.py."""
    # memoized: training passes, probe scan, and the OTHER IVF keys
    # all share one checkpointed normalize and one trained model
    unit = unit_vectors_cached(spark, sf_dir)
    centroids = ivf_centroids_cached(spark, sf_dir)
    qv = query_unit_cached(spark, sf_dir)  # memoized 1-row probe (r14)
    # probe-cell selection is pure python over the kxdim model matrix
    qdots = [sum(a * b for a, b in zip(qv, c)) for c in centroids]
    probe_cells = sorted(range(len(qdots)), key=lambda i: -qdots[i])[:N_PROBE]
    assigned = assign_cells(unit, centroids)
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    scored = (
        assigned.filter(F.col("cell").isin(probe_cells))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        # unit vectors: cosine IS the dot product, no norms at probe time
        .withColumn("cosine_raw", _dot(F.col("v"), qlit))
    )
    return _topk_by_cosine(scored)


@q("ann_lsh_bucketed")  # approximate: rows-only driver check + pytest recall test
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: multi-table random-hyperplane LSH. Each of
    _N_TABLES plane sets hashes every vector to an 8-bit bucket; the
    query probes its own bucket plus all hamming-1 neighbors in EVERY
    table, candidates are the union (deduped by vec_id), then exact
    cosine + top-k over candidates only.

    Scale shape: corpus bucketing is one narrow pass emitting
    _N_TABLES small-int keys per vector; the probe join is an
    equi-join on (table, bucket) against a broadcast ~36-row probe
    list, so the shuffle is O(candidates) and the full corpus is
    never scored. Recall@10 vs the exact baseline is asserted in
    tests/test_recall.py (union of tables compounds recall;
    single-table hamming<=1 probing measured ~0.3 on the testdata,
    multi-table ~0.7+)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    import numpy as np
    import pyarrow as pa

    tables = [_planes(seed=7 + t) for t in range(_N_TABLES)]
    # all _N_TABLES plane sets stacked: one (dim, tables*planes) matmul
    # signs every vector against every hyperplane of every table in a
    # single BLAS call per Arrow batch (the matmul-shaped tier — see
    # module docstring; the per-plane JVM fold restatement measured
    # ~3s at sf0.1 where this kernel is sub-second)
    pmat = np.asarray(
        [p for tset in tables for p in tset], dtype=np.float64
    )  # (_N_TABLES*_N_PLANES, dim)
    bitw = np.tile(1 << np.arange(_N_PLANES, dtype=np.int64), _N_TABLES)

    def bucketize(batches):
        for batch in batches:
            ids = batch.column("vec_id")
            v = batch.column("v")
            n = len(ids)
            if n == 0:
                continue
            offs = v.offsets.to_numpy(zero_copy_only=False)
            dim = int(offs[1] - offs[0])
            flat = v.flatten().to_numpy(zero_copy_only=False)
            signs = (flat.reshape(n, dim) @ pmat.T) > 0  # (n, tables*planes)
            buckets = (signs * bitw).reshape(n, _N_TABLES, _N_PLANES).sum(axis=2)
            # each vector repeats once per table (the explode the JVM
            # variant did); uniform dim lets the repeat stay one reshape
            rep_flat = np.repeat(flat.reshape(n, dim), _N_TABLES, axis=0).reshape(-1)
            varr = pa.FixedSizeListArray.from_arrays(
                pa.array(rep_flat), dim
            ).cast(pa.list_(pa.float64()))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        np.repeat(ids.to_numpy(zero_copy_only=False), _N_TABLES)
                    ),
                    varr,
                    pa.array(np.tile(np.arange(_N_TABLES, dtype=np.int32), n)),
                    pa.array(buckets.reshape(-1).astype(np.int32)),
                ],
                names=["vec_id", "v", "tbl", "bucket"],
            )

    corpus = (
        e.mapInArrow(bucketize, "vec_id bigint, v array<double>, tbl int, bucket int")
        # referenced twice (query-row filter + probe join) within ONE
        # action: eager checkpoint instead of .cache() — concurrent
        # stages of a single action race past a lazy cache and both
        # recompute the 32 hyperplane dot products per vector
        .localCheckpoint(eager=True)
    )
    qrow = corpus.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv"),
        _norm(F.col("v")).alias("qn"),
        "tbl",
        F.col("bucket").alias("qbucket"),
    )
    # per table: the query bucket plus all hamming-1 neighbors
    probe_buckets = F.array(
        F.col("qbucket"), *[F.col("qbucket").bitwiseXOR(F.lit(1 << i)) for i in range(_N_PLANES)]
    )
    probes = qrow.select("qv", "qn", "tbl", F.explode(probe_buckets).alias("bucket"))
    candidates = (
        corpus.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(probes), ["tbl", "bucket"])
        .select("vec_id", "v", "qv", "qn")
        .dropDuplicates(["vec_id"])
    )
    scored = candidates.withColumn(
        "cosine_raw", _dot(F.col("v"), F.col("qv")) / (_norm(F.col("v")) * F.col("qn"))
    )
    return _topk_by_cosine(scored)


@q("ann_mllib_lsh")  # approximate: rows-only driver check + pytest recall test
def ann_mllib_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MLlib-interop ANN path: ``BucketedRandomProjectionLSH``
    (pyspark.ml) over unit-normalized vectors — on the unit sphere
    euclidean NN ordering IS cosine NN ordering (cos = 1 - d^2/2), so
    the fitted model's ``approxNearestNeighbors`` answers the same
    query as ann_cosine_topk and the hand-rolled LSH/IVF keys, but
    with the library estimator/model machinery (persistable model,
    approxSimilarityJoin for the pair-join form) instead of
    hand-built signatures. Kept alongside the hand-rolled paths
    deliberately: the library owns amplification/probing internals,
    the custom keys expose them — an engine should offer both.
    Recall vs the exact top-k asserted in tests/test_recall.py."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("raw")
    )
    unit = (
        e.withColumn("n", _norm(F.col("raw")))
        .select(
            "vec_id",
            array_to_vector(
                F.transform("raw", lambda x: x / F.col("n"))
            ).alias("features"),
        )
        .localCheckpoint(eager=True)  # model fit + query + knn reuse it
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=0.5,  # ~unit-vector scale; knee of the recall curve
        numHashTables=4,
        seed=7,
    ).fit(unit)
    qv = unit.filter(F.col("vec_id") == QUERY_VEC_ID).collect()[0].features
    knn = model.approxNearestNeighbors(
        unit.filter(F.col("vec_id") != QUERY_VEC_ID), qv, TOP_K
    )
    return knn.select(
        "vec_id",
        F.round(1 - (F.col("distCol") * F.col("distCol")) / 2, 4).alias("cosine"),
    )


# --- product quantization ----------------------------------------------

_PQ_M = 8       # subvectors per vector (64-dim -> 8x8)
_PQ_K = 16      # centroids per sub-codebook (4-bit codes)
_PQ_ITERS = 2
_PQ_SHORTLIST = 50  # ADC candidates re-ranked exactly


def pq_encode(
    unit: DataFrame,
    codebooks: dict[int, list[list[float]]],
    dim: int,
    vec_col: str = "v",
    with_cell: bool = False,
) -> DataFrame:
    """(vec_id, v[, cell]) -> (vec_id[, cell], codes array<int>):
    encode every vector to its m 4-bit codes in ONE ``mapInArrow``
    pass — the batch's vectors reshape zero-copy to (n, m, d)
    subvectors, a single einsum against the (m, k, d) codebook tensor
    scores all m subspaces at once (argmin ||x-c||^2 = argmin
    ||c||^2 - 2 x.c, the cross-term trick), and the (n, m) code matrix
    lands as one packed array row per vector — the layout PQ indexes
    actually store (m nibbles per vector, not m rows). With
    ``with_cell`` the IVF cell column rides through untouched so
    residual-IVFPQ's per-cell ADC tables can key on it downstream.

    Replaces a posexplode + broadcast-join + double re-agg restatement
    that shuffled n*m*k narrow rows (7.7M groups at 60k x 8 x 16 —
    measured ~9s where this kernel is sub-second): scan ->
    ArrowEvalPython -> rows, NO shuffle, model in the task closure.
    np.argmin ties to the lowest cell id; per-row math is a
    deterministic sequential loop."""
    import numpy as np
    import pyarrow as pa

    m = len(codebooks)
    d = dim // m
    cmat = np.asarray(
        [codebooks[s] for s in range(m)], dtype=np.float64
    )  # (m, k, d)
    c2 = (cmat * cmat).sum(axis=2)  # (m, k)

    def kernel(batches):
        for batch in batches:
            ids = batch.column("vec_id")
            v = batch.column(vec_col)
            n = len(ids)
            if n == 0:
                continue
            flat = v.flatten().to_numpy(zero_copy_only=False)
            subv = flat.reshape(n, m, d)
            # (n, m, k) cross terms in one einsum; argmin over cells
            dots = np.einsum("nmd,mkd->nmk", subv, cmat)
            cells = np.argmin(c2[None, :, :] - 2.0 * dots, axis=2)
            codes = pa.FixedSizeListArray.from_arrays(
                pa.array(cells.reshape(-1).astype(np.int32)), m
            ).cast(pa.list_(pa.int32()))
            if with_cell:
                yield pa.RecordBatch.from_arrays(
                    [ids, batch.column("cell"), codes],
                    names=["vec_id", "cell", "codes"],
                )
            else:
                yield pa.RecordBatch.from_arrays(
                    [ids, codes], names=["vec_id", "codes"]
                )

    if with_cell:
        return unit.select("vec_id", vec_col, "cell").mapInArrow(
            kernel, "vec_id bigint, cell int, codes array<int>"
        )
    return unit.select("vec_id", vec_col).mapInArrow(
        kernel, "vec_id bigint, codes array<int>"
    )


def pq_adc_scores(codes: DataFrame, lut) -> DataFrame:
    """(vec_id[, cell], codes) -> (vec_id, adc): asymmetric-distance
    scan — each vector's approximate distance is m table lookups + a
    sum, vectorized per Arrow batch (fancy-index over the (n, m) code
    matrix). ``lut`` is either one (m, k) table (global-codebook PQ)
    or a dict {cell: (m, k) table} (residual IVFPQ, where the query's
    residual differs per probed cell — the stacked (n_probe, m, k)
    tensor rides the closure and the batch's cell column picks its
    layer). Either way the scan output is one double per vector, so
    the downstream top-N is a TakeOrdered over ids + scores — the
    score pass never shuffles anything wider than 16 bytes/vector."""
    import numpy as np
    import pyarrow as pa

    cellwise = isinstance(lut, dict)
    if cellwise:
        cells_sorted = np.asarray(sorted(lut))
        lt = np.asarray([lut[int(c)] for c in cells_sorted], dtype=np.float64)
        m = lt.shape[1]
    else:
        lt = np.asarray(lut, dtype=np.float64)  # (m, k)
        m = lt.shape[0]
    subs = np.arange(m)

    def kernel(batches):
        for batch in batches:
            ids = batch.column("vec_id")
            codes_col = batch.column("codes")
            n = len(ids)
            if n == 0:
                continue
            cm = codes_col.flatten().to_numpy(zero_copy_only=False).reshape(n, m)
            if cellwise:
                li = np.searchsorted(
                    cells_sorted,
                    batch.column("cell").to_numpy(zero_copy_only=False),
                )
                adc = lt[li[:, None], subs[None, :], cm].sum(axis=1)
            else:
                adc = lt[subs[None, :], cm].sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(adc, type=pa.float64())], names=["vec_id", "adc"]
            )

    cols = ["vec_id", "cell", "codes"] if cellwise else ["vec_id", "codes"]
    return codes.select(*cols).mapInArrow(kernel, "vec_id bigint, adc double")


@artifact(
    "pq_codebooks",
    parents={"unit_vectors", "ivf_model"},
    extra=lambda: (
        _PQ_M, _PQ_K, _PQ_ITERS, _TRAIN_SAMPLE_TARGET, N_CENTROIDS, _LLOYD_ITERS
    ),
)
def pq_codebooks_cached(
    spark: SparkSession, sf_dir: str
) -> dict[str, dict[int, list[list[float]]]]:
    """Both PQ codebook variants, memoized per (session, corpus
    snapshot): ``"plain"`` over the unit vectors (ann_pq) and
    ``"residual"`` over the assign+residualize residuals of the shared
    IVF model (ann_ivf_pq). A codebook is index-build state exactly
    like the IVF centroids — a deployment trains it once at ingest,
    not per query (ADVICE r6 #1: trained inside a key, its cost
    appeared in neither the per-key timing nor shared setup).
    Training is deterministic, so cached and fresh models are
    identical."""
    unit = unit_vectors_cached(spark, sf_dir)
    dim = len(unit.select("v").first()[0])
    centroids = ivf_centroids_cached(spark, sf_dir)
    res = residualize(assign_cells(unit, centroids), centroids)
    return {
        "plain": train_pq_codebooks(unit, dim),
        "residual": train_pq_codebooks(
            res.select("vec_id", F.col("r").alias("v")), dim
        ),
    }


def train_pq_codebooks(
    unit: DataFrame,
    dim: int,
    m: int = _PQ_M,
    k: int = _PQ_K,
    iters: int = _PQ_ITERS,
    sample_target: int = _TRAIN_SAMPLE_TARGET,
) -> dict[int, list[list[float]]]:
    """All m sub-codebooks trained TOGETHER on the driver: the bounded
    modulus sample collects once (same discipline and size bound as
    ``train_ivf_centroids``), reshapes to (n, m, d) subvectors, and
    each Lloyd pass is one einsum assignment + per-(sub, cell) means —
    every codebook updated at once. Smallest-id seeding; empty cells
    keep their previous centroid; only the m*k*d codebook matrix
    leaves the function. Deterministic end to end."""
    import numpy as np

    n = unit.count()
    train = unit
    if sample_target and n > sample_target:
        mod = n // sample_target
        # hash-based for the same density-independence reason as
        # train_ivf_centroids
        train = unit.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(mod)) == 0)
    rows = train.select("vec_id", "v").collect()
    rows.sort(key=lambda r: r.vec_id)
    d = dim // m
    x = np.asarray([r.v for r in rows], dtype=np.float64).reshape(-1, m, d)
    cmat = x[:k].transpose(1, 0, 2).copy()  # (m, k, d) smallest-id seeds
    for _ in range(iters):
        c2 = (cmat * cmat).sum(axis=2)  # (m, k)
        dots = np.einsum("nmd,mkd->nmk", x, cmat)
        cells = np.argmin(c2[None, :, :] - 2.0 * dots, axis=2)  # (n, m)
        for s in range(m):
            for ci in range(k):
                members = x[cells[:, s] == ci, s, :]
                if len(members):
                    cmat[s, ci] = members.mean(axis=0)
    return {
        s: [list(map(float, c)) for c in cmat[s]] for s in range(m)
    }


@q("ann_pq", artifacts={"pq_codebooks", "unit_vectors", "query_vec"})  # approximate: rows-only driver check + pytest recall test
def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN — the memory-bound scale path: every
    unit vector compresses to m={_PQ_M} 4-bit codes (16x smaller than
    float32, 32x smaller than the double working form), the query
    scores the WHOLE corpus from a broadcast m x k lookup table of
    precomputed subspace distances (ADC — one small-int join + sum,
    never touching raw vectors), and only the {_PQ_SHORTLIST}-row ADC
    shortlist is re-ranked with exact cosine against raw vectors.

    At 100 TB this is the decisive trade: the code table is ~2 bytes/
    vector so the ADC scan is RAM/cache-resident where raw vectors are
    not, and exact math is confined to shortlist-row lookups. On unit
    vectors L2 ordering IS cosine ordering (d^2 = 2 - 2cos), so the
    ADC shortlist chases the same neighbors as ann_cosine_topk;
    recall@10 vs that exact baseline is asserted in
    tests/test_recall.py."""
    # memoized 1-row probe (r14): the normalized query doubles as the
    # dim probe; the checkpointed unit frame's JVM normalize evaluates
    # the identical IEEE sequence (left-to-right x*x fold, sqrt,
    # divide) as the raw-collect + Python normalize it replaces, so qv
    # is bit-identical — verified output-identical at all three scales
    qv = query_unit_cached(spark, sf_dir)
    dim = len(qv)
    # the shared checkpointed unit frame (optimization r14): the inline
    # normalize this replaces was value-identical to _unit_vectors (the
    # memoized codebooks already depend on that identity — see
    # pq_codebooks_cached), but was re-planned from the parquet scan in
    # BOTH the encode pass and the re-rank pass, costing two corpus
    # scans + two normalize evaluations per call that the rest of the
    # ANN family already shares through the memoized materialization
    unit = unit_vectors_cached(spark, sf_dir)
    codebooks = pq_codebooks_cached(spark, sf_dir)["plain"]
    # encode the corpus: m packed 4-bit codes per vector (stored form)
    codes = pq_encode(unit, codebooks, dim)

    d = dim // _PQ_M
    # ADC lookup table: ||q_s - c||^2 for every (sub, cell) — m*k
    # doubles computed driver-side from the model
    lut = [
        [
            float(sum((qv[s * d + p] - c[p]) ** 2 for p in range(d)))
            for c in codebooks[s]
        ]
        for s in range(_PQ_M)
    ]
    shortlist = (
        pq_adc_scores(codes, lut)
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(_PQ_SHORTLIST)
    )
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    rerank = (
        unit.join(F.broadcast(shortlist.select("vec_id")), "vec_id")
        .withColumn("cosine_raw", _dot(F.col("v"), qlit))
    )
    return _topk_by_cosine(rerank)


def residualize(assigned: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(vec_id, v, cell) -> (vec_id, cell, r) with r = v - centroid[cell]:
    the IVFPQ residual transform as one mapInArrow pass — the batch's
    vectors reshape zero-copy, the broadcast kxdim centroid matrix is
    fancy-indexed by the cell column, and the subtraction is a single
    vectorized op. No shuffle; the cell column rides through for the
    per-cell ADC tables downstream."""
    import numpy as np
    import pyarrow as pa

    cmat = np.asarray(centroids, dtype=np.float64)

    def kernel(batches):
        for batch in batches:
            ids = batch.column("vec_id")
            v = batch.column("v")
            cells = batch.column("cell")
            n = len(ids)
            if n == 0:
                continue
            offs = v.offsets.to_numpy(zero_copy_only=False)
            dim = int(offs[1] - offs[0])
            x = v.flatten().to_numpy(zero_copy_only=False).reshape(n, dim)
            r = x - cmat[cells.to_numpy(zero_copy_only=False)]
            rl = pa.FixedSizeListArray.from_arrays(
                pa.array(r.reshape(-1)), dim
            ).cast(pa.list_(pa.float64()))
            yield pa.RecordBatch.from_arrays(
                [ids, cells, rl], names=["vec_id", "cell", "r"]
            )

    return assigned.select("vec_id", "v", "cell").mapInArrow(
        kernel, "vec_id bigint, cell int, r array<double>"
    )


@q("ann_ivf_pq", artifacts={"ivf_model", "pq_codebooks", "unit_vectors", "query_vec"})  # approximate: rows-only driver check + pytest recall test
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF+PQ — the production ANN composition (the FAISS
    IVFPQ shape, residuals included): the coarse quantizer routes the
    query to its N_PROBE nearest cells; every corpus vector is stored
    as the m 4-bit PQ codes of its RESIDUAL x - centroid[cell]
    (residuals are centered near zero, so the sub-codebooks spend
    their 16 cells on a far tighter distribution than raw vectors —
    the fidelity win over global-codebook PQ); ADC scores only the
    probed cells' codes, with a PER-CELL lookup table built from the
    query's own residual against each probed centroid; the shortlist
    re-ranks exactly against raw vectors. The two halves multiply at
    100 TB: IVF prunes the scan to N_PROBE/N_CENTROIDS of the corpus
    (partition pruning when cell-partitioned — proven in
    test_ann_ivf_persisted_index_prunes_partitions), PQ makes what IS
    scanned 16x smaller than float32 so probed code blocks stay
    cache-resident. All three per-vector stages (residualize, encode,
    ADC) are shuffle-free mapInArrow kernels; models ride task
    closures. Deterministic end to end (modulus-sampled smallest-id-
    seeded trainers, per-row sequential kernel math). Recall@10 vs
    the exact baseline is asserted in tests/test_recall.py."""
    # consumed by two trainers, assignment, and the re-rank — the
    # memoized checkpoint materializes the normalize once per session
    unit = unit_vectors_cached(spark, sf_dir)
    qv = query_unit_cached(spark, sf_dir)  # memoized 1-row probe (r14)
    dim = len(qv)

    # coarse quantizer: route the query, restrict the corpus (shared
    # index-build state across the IVF family)
    centroids = ivf_centroids_cached(spark, sf_dir)
    qdots = [sum(a * b for a, b in zip(qv, c)) for c in centroids]
    probe_cells = sorted(range(len(qdots)), key=lambda i: -qdots[i])[:N_PROBE]
    assigned = assign_cells(unit, centroids)

    # fine quantizer on residuals: codebooks train on the FULL corpus's
    # residual distribution (index build time, memoized); only probed
    # cells are encoded+scored at query time (at scale codes are
    # precomputed at ingest and this is a pruned scan)
    codebooks = pq_codebooks_cached(spark, sf_dir)["residual"]
    probed = residualize(assigned, centroids).filter(
        F.col("cell").isin(probe_cells)
    )
    codes = pq_encode(probed, codebooks, dim, vec_col="r", with_cell=True)

    d = dim // _PQ_M
    luts = {
        c: [
            [
                float(
                    sum(
                        (qv[s * d + p] - centroids[c][s * d + p] - cb[p]) ** 2
                        for p in range(d)
                    )
                )
                for cb in codebooks[s]
            ]
            for s in range(_PQ_M)
        ]
        for c in probe_cells
    }
    shortlist = (
        pq_adc_scores(codes, luts)
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(_PQ_SHORTLIST)
    )
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    rerank = (
        unit.join(F.broadcast(shortlist.select("vec_id")), "vec_id")
        .withColumn("cosine_raw", _dot(F.col("v"), qlit))
    )
    return _topk_by_cosine(rerank)


# --- batch kNN join ----------------------------------------------------

KNN_K = 5
# probes for the BATCH join, deliberately higher than the single-query
# N_PROBE: the synthetic embeddings are near-random (max in-cluster
# cosine ~0.47), so true neighbors scatter across cells and mean
# recall@5 over ALL queries is probe-bound (measured at sf0.001:
# 4 probes -> 0.57, 8 -> 0.82, 10 -> 0.90). In the grown-k regime the
# full curve is measured per scale and distribution by
# tools/recall_probe.py. The clustered law, measured on 5 corpora
# (BENCH_SCALE rounds 8-9, pinned in tests/test_recall.py::
# test_knn_join_home_cluster_coverage_law): recall tracks HOME-
# CLUSTER COVERAGE, probes / (cells/clusters) — true neighbors live
# in the query's own planted cluster and the quantizer subdivides
# clusters, so probes >= cells/clusters gives recall ~1.0 at every
# measured scale (20k..200k vectors), while a fixed 8-probe count
# decays as subdivision deepens (1.00 at 160 cells -> 0.745 at 1,600
# -> ~0.4 at 13,600). Isotropic recall tracks ~10x the probed
# fraction at every scale. Consequence: fixed n_probe = linear batch
# cost with corpus-growth recall decay; coverage-scaled probes =
# constant recall at probes ~ cells/clusters cost. That tension IS
# the IVF dial — n_probe is a function arg on knn_join_blocked for
# exactly this reason; 8 is the bench default, not a claim.
KNN_PROBE = 8

# The probe-budget PRE-FLIGHT (VERDICT r9 #1) — the dial is no longer
# hand-set in the grown-k regime: before the batch join, ann_knn_join
# measures its own sample recall (exact kNN on a bounded deterministic
# query sample vs the coverage each probe count would give) and
# auto-raises n_probe from KNN_PROBE toward the smallest count meeting
# KNN_TARGET_RECALL, capped at KNN_PROBE_MAX. Fixed-k scales (every
# driver/bench corpus) keep the KNN_PROBE default untouched.
KNN_TARGET_RECALL = 0.95
# cost ceiling for auto-raising: scored pairs grow linearly in probes
# (n * p * cell_population), so 64 probes = 8x the default's bill —
# accepted when it buys the recall target (measured sf10clustered:
# 40 probes -> recall 1.0 at +38% of the 16-probe cost), refused past
# this with a loud warning naming the measured sample recall instead
# of silently shipping 0.3-recall neighbor lists.
KNN_PROBE_MAX = 64
KNN_PREFLIGHT_QUERIES = 64
# Strict quality mode (VERDICT r10 #1): by default an exhausted probe
# budget ships the capped join with a LOUD stderr warning naming the
# measured sample recall — honest, but a pipeline can't catch prose
# the way it catches ScaleRefusal.payload(). SPARK_GRAFT_KNN_STRICT=1
# (or select_knn_probes(min_recall=...)) upgrades that warning to a
# payload-carrying ScaleRefusal so the quality degradation routes
# through the same programmable surface as every cost degradation.
KNN_STRICT_ENV = "SPARK_GRAFT_KNN_STRICT"


def probe_cells_multi(unit: DataFrame, centroids: list[list[float]], p: int) -> DataFrame:
    """(vec_id, v) -> (vec_id, v, cell) x p: each vector exploded to its
    p NEAREST cells — the multi-probe query side of the kNN join. Same
    mapInArrow matmul shape as ``assign_cells`` (model rides the task
    closure, no shuffle); the p-way expansion happens inside the Arrow
    batch via ``RecordBatch.take``, so only the exploded rows exist,
    never an intermediate (n x k) frame. Stable argsort ties to the
    lowest cell id — deterministic regardless of partitioning; routing
    dots floor-quantized at 1e-6 like ``assign_cells`` (ADVICE r5 #1),
    so a cross-BLAS-build ulp difference at the p-th-probe boundary
    cannot flip the probed cell set away from quantization
    boundaries."""
    import numpy as np
    import pyarrow as pa

    cmat = np.asarray(centroids, dtype=np.float64)  # (k, dim)
    chunk = _kernel_chunk_rows(len(centroids))

    def kernel(batches):
        for batch in batches:
            v = batch.column("v")
            n = len(v)
            if n == 0:
                continue
            offs = v.offsets.to_numpy(zero_copy_only=False)
            dim = int(offs[1] - offs[0])
            x = v.flatten().to_numpy(zero_copy_only=False).reshape(n, dim)
            orders = []
            for st in range(0, n, chunk):  # bounded (chunk x k) scratch
                dots = np.floor(
                    (x[st : st + chunk] @ cmat.T) * 1_000_000
                ).astype(np.int64)
                orders.append(np.argsort(-dots, axis=1, kind="stable")[:, :p])
            order = np.concatenate(orders) if len(orders) > 1 else orders[0]
            taken = batch.take(pa.array(np.repeat(np.arange(n), p)))
            yield taken.append_column(
                "cell", pa.array(order.reshape(-1).astype(np.int32), type=pa.int32())
            )

    return unit.select("vec_id", "v").mapInArrow(
        kernel, "vec_id bigint, v array<double>, cell int"
    )


def sample_exact_topk(
    unit: DataFrame, q_ids, q_mat, k: int
) -> dict[int, list[int]]:
    """Exact top-``k`` neighbor ids for a BOUNDED sample of query
    vectors, computed in ONE distributed corpus scan: the (nq x dim)
    query matrix rides the task closure (sample-sized — model-sized
    discipline), each Arrow batch scores all queries against its rows
    with the same 1e-6 fixed-point int64 matmul as the blocked kernel
    (engine- and host-independent), and each PARTITION emits only its
    local top-k per query — the global merge is a driver-side sort of
    n_partitions x nq x k candidate rows, never corpus-sized. Self
    pairs are excluded in-kernel. Ties resolve to the lowest neighbor
    id via exact lexsort over an argpartition shortlist (pad 27: a
    >=28-way cos_e6 tie crossing the shortlist boundary could pick a
    higher id — measure-zero on real embeddings, and this is a recall
    ESTIMATOR'S ground truth, not a served result)."""
    import numpy as np
    import pyarrow as pa

    qe6 = np.floor(np.asarray(q_mat, dtype=np.float64) * 1_000_000).astype(
        np.int64
    )
    qid_arr = np.asarray(q_ids, dtype=np.int64)
    nq = len(qid_arr)
    pad = min(k + 27, 1 << 30)

    def kernel(batches):
        # running per-partition candidates per query
        best_s = [np.empty(0, dtype=np.int64) for _ in range(nq)]
        best_n = [np.empty(0, dtype=np.int64) for _ in range(nq)]
        for batch in batches:
            v = batch.column("v")
            nb = len(v)
            if nb == 0:
                continue
            offs = v.offsets.to_numpy(zero_copy_only=False)
            dim = int(offs[1] - offs[0])
            x = v.flatten().to_numpy(zero_copy_only=False).reshape(nb, dim)
            nids = batch.column("vec_id").to_numpy(zero_copy_only=False)
            xe6 = np.floor(x * 1_000_000).astype(np.int64)
            s = qe6 @ xe6.T  # (nq, nb) int64 e12 scores
            take = min(pad, nb)
            if take < nb:
                part = np.argpartition(-s, take - 1, axis=1)[:, :take]
            else:
                part = np.broadcast_to(np.arange(nb), (nq, nb))
            for i in range(nq):
                cols = part[i]
                keep = nids[cols] != qid_arr[i]
                best_s[i] = np.concatenate([best_s[i], s[i, cols[keep]]])
                best_n[i] = np.concatenate([best_n[i], nids[cols[keep]]])
                if len(best_s[i]) > 4 * pad:  # bound the running set
                    order = np.lexsort((best_n[i], -best_s[i]))[:pad]
                    best_s[i], best_n[i] = best_s[i][order], best_n[i][order]
        out_q, out_n, out_s = [], [], []
        for i in range(nq):
            order = np.lexsort((best_n[i], -best_s[i]))[:k]
            out_q.extend([qid_arr[i]] * len(order))
            out_n.extend(best_n[i][order])
            out_s.extend(best_s[i][order] // 1_000_000)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.asarray(out_q, dtype=np.int64)),
                pa.array(np.asarray(out_n, dtype=np.int64)),
                pa.array(np.asarray(out_s, dtype=np.int64)),
            ],
            names=["query_id", "neighbor_id", "cos_e6"],
        )

    local = unit.select("vec_id", "v").mapInArrow(
        kernel, "query_id bigint, neighbor_id bigint, cos_e6 bigint"
    )
    rows = local.collect()  # n_partitions x nq x k rows — bounded
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r.query_id), []).append(
            (-int(r.cos_e6), int(r.neighbor_id))
        )
    return {
        qid: [nid for _, nid in sorted(cands)[:k]]
        for qid, cands in by_q.items()
    }


def select_knn_probes(
    unit: DataFrame,
    centroids: list[list[float]],
    k: int = KNN_K,
    p_min: int = KNN_PROBE,
    p_max: int = KNN_PROBE_MAX,
    target: float = KNN_TARGET_RECALL,
    n_queries: int = KNN_PREFLIGHT_QUERIES,
    min_recall: float | None = None,
) -> tuple[int, float]:
    """The home-cluster coverage law, operationalized (VERDICT r9 #1):
    measure the blocked join's OWN sample recall per probe count
    BEFORE running it, and return (probes, predicted_recall) — the
    smallest count >= ``p_min`` whose predicted sample recall meets
    ``target``, capped at ``p_max``.

    Why prediction is cheap AND exact-per-sample: a (query, neighbor)
    pair survives the blocked join iff the neighbor's HOME cell is
    among the query's first-p probe cells (a true top-k neighbor that
    becomes a candidate always outranks non-top-k candidates), so one
    distributed exact-kNN pass over a deterministic ~``n_queries``
    query sample (``sample_exact_topk`` — fixed-point, one corpus
    scan), one bounded lookup of those neighbors' vectors, and
    driver-side model arithmetic (query cell rankings + neighbor home
    cells, the same floor-1e-6 argmax as the kernels) yield the WHOLE
    recall-vs-probes curve at once — no per-candidate-probe-count
    corpus joins. The pre-flight is index-build-time work (one linear
    scan, same amortization as quantizer training), not query-time.

    If even ``p_max`` misses the target, the cap is returned with a
    LOUD stderr warning naming the measured sample recall and the
    dials (the ``n_probe`` arg / SPARK_GRAFT_KNN_PROBE) — the engine's
    last silent scale degradation (fixed 8 probes decaying 1.00 ->
    0.34 across three clustered decades, BENCH_SCALE.md) now either
    fixes itself or says its number out loud.

    ``min_recall`` (VERDICT r10 #1) upgrades that warning to a
    refusal: when the sample recall at ``p_max`` probes sits below
    ``min_recall``, raise :class:`ScaleRefusal` whose payload carries
    the measured recall, the target, every probe count considered,
    and the dials — the same programmable surface as the cost guards,
    so a pipeline catches "this join cannot reach the quality bar at
    the cost ceiling" exactly like "this join costs too much". Default
    ``None`` keeps the ship-with-warning behavior (driver/bench rows
    unchanged); ``knn_probe_cached`` wires it to KNN_TARGET_RECALL
    under SPARK_GRAFT_KNN_STRICT=1."""
    import numpy as np

    n = unit.count()
    m = max(1, n // n_queries)
    sample = (
        unit.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(m)) == 0)
        .select("vec_id", "v")
        .collect()
    )
    sample.sort(key=lambda r: r.vec_id)
    sample = sample[: 2 * n_queries]  # binomial tail bound, deterministic
    q_ids = [int(r.vec_id) for r in sample]
    q_mat = np.asarray([r.v for r in sample], dtype=np.float64)
    true = sample_exact_topk(unit, q_ids, q_mat, k)

    # neighbor home cells: bounded fetch of <= nq*k vectors, then the
    # same fixed-point argmax as assign_cells (ties to lowest cell)
    nbr_ids = sorted({nid for nbrs in true.values() for nid in nbrs})
    nbr_rows = unit.filter(F.col("vec_id").isin(nbr_ids)).collect()
    cmat = np.asarray(centroids, dtype=np.float64)
    nbr_cell = {
        int(r.vec_id): int(
            np.argmax(
                np.floor(
                    np.asarray(r.v, dtype=np.float64) @ cmat.T * 1_000_000
                ).astype(np.int64)
            )
        )
        for r in nbr_rows
    }
    # per-query cell ranking (probe order): floor-quantized dots,
    # stable argsort — identical discipline to probe_cells_multi
    qdots = np.floor(q_mat @ cmat.T * 1_000_000).astype(np.int64)
    ranks = np.argsort(-qdots, axis=1, kind="stable")  # (nq, cells)
    rank_pos = np.argsort(ranks, axis=1, kind="stable")  # cell -> position

    p_cap = min(p_max, len(centroids))
    positions = []  # probe position of each true pair's home cell
    total = 0
    for i, qid in enumerate(q_ids):
        for nid in true.get(qid, []):
            total += 1
            positions.append(int(rank_pos[i, nbr_cell[nid]]))
    if not total:  # degenerate corpus (single vector): default dial
        return min(p_min, p_cap), 1.0
    pos_arr = np.asarray(positions)
    # recall(p) = covered pairs / total pairs, for all p at once
    covered_at = np.cumsum(np.bincount(pos_arr, minlength=p_cap + 1))
    recall = covered_at / total  # recall[p-1] = recall at p probes

    # selection aims at whichever bar is HIGHER: a caller's
    # min_recall > target must steer the search, not just gate its
    # result — selecting the smallest p that clears `target` and then
    # refusing because it sits under min_recall would report "bar
    # unreachable within the budget" when a larger affordable p
    # reaches it (round-12 review; the ADVICE r11 fix had checked the
    # bar only on the already-selected count)
    sel_target = target if min_recall is None else max(target, min_recall)
    chosen = None
    for p in range(min(p_min, p_cap), p_cap + 1):
        if p >= 1 and recall[p - 1] >= sel_target:
            chosen = p
            break
    # min_recall gates whatever WOULD ship — the selected count, or
    # the cap when the budget is exhausted (refusal correct there by
    # construction: recall is monotone in p, so recall[p_cap-1] is the
    # best any affordable count can do)
    shipped = chosen if chosen is not None else p_cap
    if min_recall is not None and recall[shipped - 1] < min_recall:
        from ..errors import ScaleRefusal

        raise ScaleRefusal(
            f"knn_probe: sample recall at the probe count the budget "
            f"allows (p={shipped}, ceiling {p_cap}) is "
            f"{recall[shipped - 1]:.3f} < required {min_recall} "
            f"({total} sampled true pairs, {len(centroids)} cells) — "
            "the blocked join cannot reach the quality bar within the "
            "cost budget on this corpus. Route to ann_knn_exact (the "
            "exact quality tier — priced by its own n^2 pre-flight, "
            "knn_exact_audit), raise the dial deliberately "
            "(knn_join_blocked(n_probe=...) / SPARK_GRAFT_KNN_PROBE), "
            "or raise KNN_PROBE_MAX.",
            key="knn_probe",
            measured=round(float(recall[shipped - 1]), 4),
            budget=min_recall,
            alternative="ann_knn_exact",
            override_env="SPARK_GRAFT_KNN_PROBE",
            extra={
                "kind": "quality",
                "target_recall": target,
                "probes_tried": shipped,
                "n_cells": len(centroids),
                "sampled_true_pairs": total,
            },
        )
    if chosen is None:
        chosen = p_cap
        print(
            f"[knn_probe] WARNING: probe budget exhausted — sample "
            f"recall at p_max={p_cap} probes is {recall[p_cap - 1]:.3f} "
            f"(< target {target}) over {total} sampled true pairs "
            f"({len(centroids)} cells). Raise the dial explicitly "
            f"(knn_join_blocked(n_probe=...) or SPARK_GRAFT_KNN_PROBE) "
            "or accept the measured recall — this join will NOT "
            "silently ship it unnamed.",
            file=sys.stderr,
        )
    pred = float(recall[chosen - 1])
    print(
        f"[knn_probe] pre-flight: {len(centroids)} cells, "
        f"{total} sampled true pairs -> n_probe={chosen} "
        f"(predicted sample recall {pred:.3f}, target {target})",
        file=sys.stderr,
    )
    return chosen, pred


_KNN_PROBE_CACHE: dict = register_cache({})


# memo=False: knn_probe_provenance memoizes the pre-flight selection
# itself and reads its env overrides on every call
@artifact(
    "knn_probe", parents={"unit_vectors", "ivf_model", "batch_model"}, memo=False
)
def knn_probe_cached(spark: SparkSession, sf_dir: str) -> int:
    """The probe count ``ann_knn_join`` runs with — auto-selected by
    the recall pre-flight in the grown-k regime, the KNN_PROBE bench
    default in the fixed-k regime (every driver-checked scale: the
    batch quantizer delegates to the shared 16-cell model there, the
    decay the pre-flight guards against cannot exist, and driver rows
    stay byte-identical). Memoized per corpus snapshot like the model
    itself — probe selection is index-build state. SPARK_GRAFT_KNN_PROBE
    (read per call, loud on use) forces a fixed count for deliberate
    dial-override runs. SPARK_GRAFT_KNN_STRICT=1 (VERDICT r10 #1)
    makes an exhausted-budget pre-flight raise a payload-carrying
    ScaleRefusal instead of shipping the capped join behind a stderr
    warning — quality refusal on the same programmable surface as
    cost refusal."""
    return knn_probe_provenance(spark, sf_dir)["n_probe"]


def knn_probe_provenance(spark: SparkSession, sf_dir: str) -> dict:
    """The probe selection AND where it came from, artifact-ready
    (VERDICT r10 #1: persist the selected (n_probe, predicted_recall)
    next to the result the way RouteResult.key rides with routed
    output). ``mode`` is one of:

    * ``env_override`` — SPARK_GRAFT_KNN_PROBE forced the count,
      pre-flight bypassed;
    * ``fixed_k_default`` — shared 16-cell model regime (every
      driver/bench corpus): the KNN_PROBE bench default, no decay to
      guard against;
    * ``preflight`` — grown-k regime: the measured sample-recall
      selection, with ``predicted_recall`` and ``strict`` recorded.

    bench.py copies this dict into the artifact whenever the grown-k
    regime engaged, so a reader of a scale artifact sees which dial
    produced the ann_knn_join row without stderr archaeology."""
    p = env_int("SPARK_GRAFT_KNN_PROBE", None)
    if p is not None:
        print(
            f"[knn_probe] SPARK_GRAFT_KNN_PROBE override active: "
            f"n_probe forced to {p} (pre-flight bypassed)",
            file=sys.stderr,
        )
        return {"n_probe": p, "mode": "env_override"}
    centroids = batch_centroids_cached(spark, sf_dir)
    if len(centroids) <= N_CENTROIDS:
        return {"n_probe": KNN_PROBE, "mode": "fixed_k_default"}
    strict = os.environ.get(KNN_STRICT_ENV, "") not in ("", "0")

    def _build():
        # dials passed explicitly (module-global lookup at CALL time,
        # not def-time default binding) so a test or deliberate run
        # that monkeypatches the module constants actually moves them.
        # A strict-mode REFUSAL is memoized too (round-12 review:
        # snapshot_memo caches only successful builds, so one strict
        # bench run — warm phase, two timed head runs, two facade
        # runs, the provenance snapshot — re-paid the distributed
        # sample-recall scan ~6 times): the refusal is index-build
        # state exactly like a selection, cached as a sentinel and
        # re-raised per call.
        try:
            return ("ok", select_knn_probes(
                unit_vectors_cached(spark, sf_dir),
                centroids,
                k=KNN_K,
                p_min=KNN_PROBE,
                p_max=KNN_PROBE_MAX,
                target=KNN_TARGET_RECALL,
                n_queries=KNN_PREFLIGHT_QUERIES,
                min_recall=KNN_TARGET_RECALL if strict else None,
            ))
        except ScaleRefusal as exc:
            return ("refused", exc)

    outcome, selected = snapshot_memo(
        _KNN_PROBE_CACHE,
        spark,
        sf_dir,
        _build,
        extra=(
            KNN_K,
            KNN_PROBE,
            KNN_PROBE_MAX,
            KNN_TARGET_RECALL,
            KNN_PREFLIGHT_QUERIES,
            len(centroids),
            strict,
        ),
    )
    if outcome == "refused":
        # fresh instance per raise (ADVICE r12): re-raising the shared
        # cached object rebinds __traceback__ on it every time
        # (retaining frames for the session's lifetime), and a caller
        # that mutates exc.extra would contaminate every later raise
        # from the cache — reconstruct from the stored fields instead
        raise ScaleRefusal(
            str(selected),
            key=selected.key,
            measured=selected.measured,
            budget=selected.budget,
            alternative=selected.alternative,
            override_env=selected.override_env,
            extra=selected.extra,
        )
    return {
        "n_probe": selected[0],
        "predicted_recall": round(float(selected[1]), 4),
        "mode": "preflight",
        "strict": strict,
    }


def knn_ship_decision(spark: SparkSession, sf_dir: str) -> dict:
    """What ``ann_knn_join`` will actually ship at this corpus — the
    probe provenance PLUS the mid-scale quality policy (VERDICT r12
    #3): in NON-strict mode, when the pre-flight lands below
    KNN_TARGET_RECALL but the exact tier's n*(n-1) bill fits
    KNN_EXACT_PAIRS_BUDGET, prefer exactness over shipping a
    sub-target join behind a warning. The upgrade is the same walk
    strict mode + routing already makes (quality refusal ->
    ann_knn_exact), applied by default at the scales where exact is
    AFFORDABLE — at the measured decade corpora exact is over budget
    and today's ship-with-warning behavior is unchanged; at every
    fixed-k driver/bench scale no pre-flight runs and the decision is
    the KNN_PROBE default, byte-identical rows.

    Returns the provenance dict extended with ``tier`` (the registry
    key whose plan ships: ``ann_knn_join`` or ``ann_knn_exact``) and,
    when the sub-target branch was evaluated, ``exact_pairs_bound`` /
    ``exact_budget`` / ``upgraded`` — so bench.py's quality bucket
    names the shipped tier from the artifact alone. Strict mode never
    reaches here with a sub-target selection (the pre-flight refuses
    first and routing owns the walk)."""
    decision = dict(knn_probe_provenance(spark, sf_dir))
    decision["tier"] = "ann_knn_join"
    pr = decision.get("predicted_recall")
    if (
        decision.get("mode") == "preflight"
        and not decision.get("strict")
        and pr is not None
        and pr < KNN_TARGET_RECALL
    ):
        _n, pairs, budget = _knn_exact_bill(spark, sf_dir)
        decision["exact_pairs_bound"] = pairs
        decision["exact_budget"] = budget
        # budget 0 = "unlimited by deliberate override": that is the
        # operator forcing the EXACT-tier guard open, not a standing
        # instruction to auto-upgrade — only a bill that fits the real
        # budget upgrades silently
        if budget and pairs <= budget:
            decision["tier"] = "ann_knn_exact"
            decision["upgraded"] = True
            print(
                f"[knn_probe] sub-target sample recall {pr:.3f} < "
                f"{KNN_TARGET_RECALL} but the exact tier is affordable "
                f"({pairs} pairs <= budget {budget}) — upgrading to "
                "ann_knn_exact (recall 1.0) instead of shipping "
                "sub-target. SPARK_GRAFT_KNN_PROBE forces the blocked "
                "join; SPARK_GRAFT_KNN_EXACT_CAP moves the bar.",
                file=sys.stderr,
            )
    return decision


@q(
    "ann_knn_join",
    artifacts={"batch_model", "knn_probe", "unit_vectors"},
    # the QUALITY ladder (round 12): the declared alternative to "the
    # blocked join cannot reach the recall bar within the probe
    # budget" (the strict-mode refusal below) is the HIGHER-cost exact
    # tier, which prices its own n*(n-1) bill — see ann_knn_exact
    fallback="ann_knn_exact",
)  # approximate blocking: rows-only driver check + pytest recall
def ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN JOIN: top-{KNN_K} cosine neighbors for EVERY vector at
    once — the primitive under SemDeDup-style semantic dedup, diversity
    sampling, and kNN-graph construction, where the single-query keys
    above don't apply. IVF-blocked, never all-pairs: every vector is
    INDEXED in its one nearest cell (``assign_cells``) and PROBES its
    {KNN_PROBE} nearest cells (``probe_cells_multi``), so a (query,
    neighbor) pair is scored iff the neighbor's home cell is among the
    query's probes — each pair at most once (a neighbor lives in
    exactly one cell), no dedup pass needed.

    Scale shape: one shuffle of each side keyed on ``cell`` into a
    COGROUPED ``applyInArrow`` kernel — per cell, one (nq x nx) numpy
    matmul emits each query's local top-k — then a per-query window
    over <= {KNN_PROBE}*k candidate rows picks the global top-k
    (partitioned by query_id: parallel, bounded per group). Work is
    quadratic only WITHIN a cell, the same confinement contract as
    ``dedup_semantic``; at 100 TB the lever is CONSTANT CELL
    POPULATION: scored pairs total n*probes*(n/cells), so growing the
    centroid count in proportion to the corpus (cells ~ n/c, bounded
    cell size c — the IVF analogue of the LSH BUCKET_CAP) holds
    per-query candidate count constant and makes the batch join
    linear; k ~ sqrt(n) is the SINGLE-QUERY latency optimum (routing
    k + scan n/k), not the batch law. Fixed probe count over more
    cells scans a smaller corpus fraction — the recall/cost dial the
    PRE-FLIGHT now sets (VERDICT r9 #1): in the grown-k regime the
    probe count comes from ``knn_probe_cached`` — a measured sample-
    recall curve (``select_knn_probes``, one exact-kNN corpus scan
    over a bounded deterministic query sample + driver-side coverage
    arithmetic) picks the smallest count meeting KNN_TARGET_RECALL,
    capped at KNN_PROBE_MAX with a loud warning naming the measured
    recall when the cap can't reach it. The fixed-8 silent decay
    (1.00 -> 0.745 -> 0.34 across the clustered decades,
    BENCH_SCALE.md) is closed: measured on sf10clustered the
    pre-flight raises 8 -> the coverage-implied count and restores
    >= 0.95 recall with no hand-set n_probe. Fixed-k scales (every
    driver-checked corpus) keep the KNN_PROBE default — driver rows
    byte-identical. The other guard is quantizer balance — a hot cell
    is a data-model smell the key_distribution profiler surfaces.
    Driver check is rows-only
    (an eigenless ANN blocking has no SQL oracle), but the fixed-point
    scoring kernel plus 1e-6-quantized cell routing (assign_cells /
    probe_cells_multi) make the surface bit-stable up to the
    measure-zero exact-quantization-boundary caveat those kernels
    document; recall@{KNN_K} against the
    exact brute-force kNN graph is pinned in tests/test_recall.py,
    plus the structural contract (no self pairs, dense ranks 1..k,
    one row per (query, rank)) and the selector pins in
    tests/test_recall.py::test_knn_probe_preflight_*. Routes through
    the BATCH quantizer
    (``batch_centroids_cached``): identical to the shared model at
    every driver-checked scale, constant-cell-population above it —
    the measured 26x difference at 30x bench scale (BENCH_SCALE.md)."""
    decision = knn_ship_decision(spark, sf_dir)
    if decision["tier"] == "ann_knn_exact":
        # mid-scale quality policy (VERDICT r12 #3): sub-target sample
        # recall + affordable n*(n-1) -> ship exactness by default;
        # the tier's own guard re-prices (a cached count) and cannot
        # refuse here because the decision already checked the budget
        return ann_knn_exact(spark, sf_dir)
    return knn_join_blocked(
        unit_vectors_cached(spark, sf_dir),
        batch_centroids_cached(spark, sf_dir),
        n_probe=decision["n_probe"],
    )


def knn_join_blocked(
    unit: DataFrame,
    centroids: list[list[float]],
    k: int = KNN_K,
    n_probe: int = KNN_PROBE,
) -> DataFrame:
    """The IVF-blocked batch kNN join over an explicit (unit frame,
    centroid model) pair — ``ann_knn_join`` is this with the shared
    session artifacts; the scale probe calls it with a
    constant-cell-population model to measure the linearity lever."""
    import numpy as np

    index = assign_cells(unit, centroids)
    probes = probe_cells_multi(unit, centroids, min(n_probe, len(centroids)))

    import pyarrow as pa

    empty = pa.table(
        {
            "query_id": pa.array([], type=pa.int64()),
            "neighbor_id": pa.array([], type=pa.int64()),
            "cos_e6": pa.array([], type=pa.int64()),
        }
    )

    def _matrix(t: "pa.Table"):
        v = t.column("v").combine_chunks()
        n = len(v)
        if n == 0:
            return np.empty((0, 0)), np.empty(0, dtype=np.int64)
        offs = v.offsets.to_numpy(zero_copy_only=False)
        dim = int(offs[1] - offs[0])
        flat = v.flatten().to_numpy(zero_copy_only=False)
        ids = t.column("vec_id").to_numpy(zero_copy_only=False)
        return flat.reshape(n, dim), ids

    def cell_knn(left: "pa.Table", right: "pa.Table") -> "pa.Table":
        # left = queries probing this cell, right = vectors indexed here
        # (applyInArrow: the list column unpacks zero-copy via its
        # offsets buffer — no per-cell pandas boxing of 64-float lists).
        # FIXED-POINT scoring, same discipline as embed_pca: vectors
        # floor-quantized at 1e-6 and scored with an INT64 matmul
        # (order-independent, never routed through BLAS whose blocked
        # float reductions can vary by shape/threads), so cos_e6 and
        # the selected candidate set are bit-identical across hosts,
        # batch shapes, and reruns — the rows-only driver hash cannot
        # flip on a re-check elsewhere. The indexed side is sorted by
        # vec_id first so stable-argsort ties resolve to the LOWEST
        # neighbor id deterministically, not to cogroup arrival order.
        if not len(left) or not len(right):
            return empty
        qm, qids = _matrix(left)
        xm, nids = _matrix(right)
        xorder = np.argsort(nids, kind="stable")
        xm, nids = xm[xorder], nids[xorder]
        qe6 = np.floor(qm * 1_000_000).astype(np.int64)
        xe6 = np.floor(xm * 1_000_000).astype(np.int64)
        s_e12 = qe6 @ xe6.T  # (nq, nx) int64: |term| <= 1e12 * dim << 2^63
        kk = min(k + 1, s_e12.shape[1])  # +1: self may be among the indexed
        part = np.argsort(-s_e12, axis=1, kind="stable")[:, :kk]
        rows = np.repeat(np.arange(s_e12.shape[0]), kk)
        cols = part.reshape(-1)
        keep = nids[cols] != qids[rows]  # drop self pairs
        return pa.table(
            {
                "query_id": pa.array(qids[rows][keep], type=pa.int64()),
                "neighbor_id": pa.array(nids[cols][keep], type=pa.int64()),
                # floor division: exact, engine- and host-independent
                "cos_e6": pa.array(s_e12[rows, cols][keep] // 1_000_000),
            }
        )

    cand = (
        probes.groupBy("cell")
        .cogroup(index.groupBy("cell"))
        .applyInArrow(cell_knn, "query_id bigint, neighbor_id bigint, cos_e6 bigint")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_e6"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_e6")
    )


# --- exact kNN join: the QUALITY tier (round 12) ------------------------
#
# VERDICT r11 #1: cost refusals route (guard fires -> run_routed walks
# KEY_FALLBACKS to the bounded tier), but a strict-mode kNN QUALITY
# refusal dead-ended — the engine could say "the blocked join cannot
# reach the recall bar within the probe budget" and then offered no
# declared tier a pipeline could walk to. The quality ladder is the
# COST ladder inverted: the alternative to "not good enough at this
# price" is the HIGHER-cost exact answer, affordable or not — so
# ann_knn_join declares ann_knn_exact as its fallback, ann_knn_exact
# prices its own n*(n-1) bill with the same probe-and-refuse
# discipline as every exact twin, and routed_knn walks the chain:
#
#   strict quality refusal -> exact tier affordable  -> exact answer
#   strict quality refusal -> exact tier over budget -> NoBoundedTier
#     carrying BOTH payloads (quality bar unreachable AND exact
#     unaffordable) — the honest double refusal.

KNN_EXACT_PAIRS_BUDGET = 250_000_000
KNN_EXACT_CAP_ENV = "SPARK_GRAFT_KNN_EXACT_CAP"

_KNN_EXACT_AUDIT_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(COUNT(*) * (COUNT(*) - 1) AS BIGINT) AS pairs_bound
FROM embeddings
"""


def _knn_exact_bill(spark: SparkSession, sf_dir: str) -> tuple[int, int, int]:
    """(n_vectors, pairs_bound, budget) for the exact batch kNN join:
    n*(n-1) ordered scored pairs against KNN_EXACT_PAIRS_BUDGET (or
    the SPARK_GRAFT_KNN_EXACT_CAP override; budget 0 = unlimited). One
    count on the checkpointed unit frame — cheap enough that both the
    guard and the non-strict upgrade policy price it per call."""
    budget = env_int(KNN_EXACT_CAP_ENV, KNN_EXACT_PAIRS_BUDGET)
    n = unit_vectors_cached(spark, sf_dir).count()
    return n, n * (n - 1), budget


def _guard_knn_exact(spark: SparkSession, sf_dir: str) -> None:
    """Probe-and-refuse for the exact batch kNN join: the bill is
    n*(n-1) ordered scored pairs — no data-dependent audit shuffle
    needed, the corpus row count prices it exactly (the checkpointed
    unit frame makes the count free). Same budget constant and
    override discipline as every exact twin; SPARK_GRAFT_KNN_EXACT_CAP
    overrides (0 = unlimited) for a deliberate exact run."""
    n, pairs, budget = _knn_exact_bill(spark, sf_dir)
    if not budget:
        return
    if pairs > budget:
        from ..errors import ScaleRefusal

        raise ScaleRefusal(
            f"ann_knn_exact: the exact batch kNN join scores every "
            f"ordered pair — {pairs} pairs over {n} vectors (> budget "
            f"{budget}). Run ann_knn_join (IVF-blocked, "
            "n*probes*(n/cells) scored pairs, recall measured by its "
            "probe pre-flight) or set "
            f"{KNN_EXACT_CAP_ENV}=0 for a deliberate exact run.",
            key="ann_knn_exact",
            measured=pairs,
            budget=budget,
            alternative="ann_knn_join",
            override_env=KNN_EXACT_CAP_ENV,
            extra={"kind": "cost", "n_vectors": n},
        )


@q("knn_exact_audit", _KNN_EXACT_AUDIT_ORACLE)
def knn_exact_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-kNN guard's pre-flight price as an oracle-checked
    query (the pricing-surface discipline: shingle_df_audit /
    stream_pair_audit): corpus size and the n*(n-1) ordered-pair bill
    the exact join would pay. Trivial arithmetic ON PURPOSE — the
    audit exists so a 100 TB pipeline checks the number the guard
    checks, hash-verified against the oracle, before scheduling the
    quality tier."""
    e = load_table(spark, sf_dir, "embeddings")
    n = F.count(F.lit(1)).cast("bigint")
    return e.agg(
        n.alias("n_vectors"), (n * (n - F.lit(1))).alias("pairs_bound")
    )


_KNN_EXACT_ORACLE = f"""
WITH u AS (
  SELECT vec_id,
         list_transform(
           CAST(embedding AS DOUBLE[]),
           x -> floor(x / sqrt(list_reduce(
                  list_transform(CAST(embedding AS DOUBLE[]), y -> y * y),
                  (a, b) -> a + b)) * 1000000)
         ) AS e6
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         CAST(floor(list_dot_product(q.e6, x.e6) / 1000000.0) AS BIGINT)
           AS cos_e6
  FROM u q JOIN u x ON q.vec_id <> x.vec_id
)
SELECT query_id, neighbor_id, rank, cos_e6
FROM (SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_e6 DESC, neighbor_id
      ) AS INT) AS rank FROM scored)
WHERE rank <= {KNN_K}
"""


@q(
    "ann_knn_exact",
    _KNN_EXACT_ORACLE,
    artifacts={"unit_vectors", "ivf_model", "batch_model"},
)
def ann_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT batch kNN join — the QUALITY tier above ``ann_knn_join``
    (VERDICT r11 #1): true top-{KNN_K} cosine neighbors for every
    vector, recall 1.0 by construction, priced at n*(n-1) scored pairs
    by ``_guard_knn_exact`` (oracle-checked via ``knn_exact_audit``)
    before a byte is shuffled. This is the tier the strict-mode
    quality refusal names as ``alternative``: when the probe
    pre-flight measures that the blocked join cannot reach
    KNN_TARGET_RECALL within KNN_PROBE_MAX, ``routed_knn`` walks here,
    and this guard decides whether exactness is affordable — if not,
    the router dead-ends with BOTH payloads (the double refusal).

    Implementation: ``knn_join_blocked`` probing EVERY cell — a
    (query, neighbor) pair is scored iff the neighbor's home cell is
    among the probes, so probing all cells scores every pair exactly
    once; the per-cell top-k plus the global per-query window then
    select the true top-k. Reuses the fixed-point int64 scoring kernel
    verbatim (bit-stable across hosts), so exact and blocked tiers
    cannot drift in scoring or tie-breaks; the DuckDB oracle
    reproduces the same pipeline (sequential-fold norm via
    list_reduce, floor-1e-6 quantization, int-exact double dot,
    floor-1e-6 score) so the driver hash is value-grade, not
    rows-only. Probe-side explosion is n x cells rows — bounded at
    every affordable scale (n <= ~15.8k under the default budget,
    cells = n/125 -> <= ~2M exploded rows)."""
    _guard_knn_exact(spark, sf_dir)
    centroids = batch_centroids_cached(spark, sf_dir)
    return knn_join_blocked(
        unit_vectors_cached(spark, sf_dir), centroids, n_probe=len(centroids)
    )
