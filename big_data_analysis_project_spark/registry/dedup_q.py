"""Deduplication operators over the documents table (Phase E).

Seven families, all shuffle-conscious:

* exact        — hash groupBy on the full text (one shuffle on text).
* ngram_jaccard— exact near-dup: word-3-gram shingles, shingle-join,
                 Jaccard >= threshold. Quadratic in the worst case;
                 kept exact here because it is the ORACLE for the
                 approximate families below. At 100 TB you run minhash
                 first and this only on candidate pairs.
* minhash_lsh  — MinHash signatures (64 perms) + LSH banding (16x4):
                 candidates are pairs sharing a band bucket, then
                 verified with exact Jaccard. The scale path: cost is
                 O(docs x shingles) + a join keyed on band buckets —
                 no all-pairs shuffle.
* simhash      — 64-bit SimHash with 4-chunk banding for hamming<=k
                 candidate generation.
* embedding    — cosine near-dup within a blocking key (label), the
                 embedding analogue of exact near-dup.
* clusters     — connected components over the verified pair set:
                 the (doc_id, keep_id) drop-list a pipeline consumes.
* mllib_minhash— MLlib MinHashLSH approxSimilarityJoin interop: the
                 library twin of minhash_lsh (estimator owns the
                 banding; recall-tested vs the exact pairs).

minhash/simhash have no DuckDB oracle (hash functions aren't portable
SQL); they get rows-only driver checks plus pytest recall tests
against the exact-Jaccard oracle at sf0.001.
"""

from __future__ import annotations

import sys
import warnings

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import py_ws_split, shingle_set, sql_ws_split, ws_split
from ..operators.graphs import connected_components
from ..session import env_int
from ..sources.readers import load_table
from ._memo import artifact, register_cache, snapshot_memo

from ._base import ScaleRefusal, make_registry

QUERIES, ORACLE, q = make_registry()

# Band/chunk buckets larger than this are never self-joined all-pairs:
# minhash drops them (they are boilerplate collisions that exact-verify
# would reject anyway at real thresholds), simhash stars them to the
# bucket's min-id representative (n-1 candidate edges instead of
# n(n-1)/2). This is the standard LSH skew guard — without it one
# degenerate bucket (all docs sharing a chunk value) costs O(n^2)
# shuffle at 100 TB.
BUCKET_CAP = 64
# star-fallback fan-out inside oversized buckets: each member pairs
# with this many smallest-id representatives
_N_REPS = 8


NGRAM = 3
JACCARD_THRESHOLD = 0.5

# deterministic MinHash permutation parameters (fixed LCG, seed 42 —
# no runtime RNG so every run and every test sees the same family).
# Universe prime 2^31-1: with h reduced mod p first, a*h + b stays
# under 2^62 — no int64 overflow under Spark's ANSI arithmetic.
_PRIME = (1 << 31) - 1


def _lcg_params(n: int, seed: int = 42) -> list[tuple[int, int]]:
    state = seed
    out = []
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (_PRIME - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _PRIME
        out.append((a, b))
    return out


N_PERMS = 64
N_BANDS = 16  # rows per band = 4  ->  ~(1/16)^(1/4) = s-curve knee near 0.5
_PERMS = _lcg_params(N_PERMS)


def _shingles(docs: DataFrame) -> DataFrame:
    """doc_id -> exploded distinct word-NGRAM shingles, as a
    zero-shuffle ``mapInArrow`` kernel: per document, tokenize, slide
    the 3-gram window, dedup locally (first-occurrence order), emit
    rows. Distinct-per-doc is LOCAL by construction, so no shuffle at
    any step — the JVM restatement (element_at x3 concat per shingle
    under transform + array_distinct) built the same 10M strings
    through interpreted array expressions and measured ~3.7s at sf0.1
    where this kernel is sub-second.

    Tokens and shingles follow the lowered whitespace rule of
    ``functions/text.py``, the same rule as the DuckDB oracle's
    ``_SHINGLE_CTE``."""
    import pyarrow as pa

    def kernel(batches):
        for batch in batches:
            ids = batch.column("doc_id").to_pylist()
            texts = batch.column("text").to_pylist()
            out_ids: list[int] = []
            out_sh: list[str] = []
            for doc_id, txt in zip(ids, texts):
                if txt is None:
                    continue
                sh = shingle_set(py_ws_split(txt, lower=True), NGRAM)
                out_ids.extend([doc_id] * len(sh))
                out_sh.extend(sh)
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_ids, type=pa.int64()), pa.array(out_sh, type=pa.string())],
                names=["doc_id", "s"],
            )

    return docs.select("doc_id", "text").mapInArrow(
        kernel, "doc_id bigint, s string"
    )


# the DuckDB twin of ``_shingles``: sh(doc_id, s) holds each document's
# distinct word-NGRAM shingles; every shingle oracle opens with it
_SHINGLE_CTE = f"""WITH words AS (
  SELECT doc_id, {sql_ws_split(lower=True)} AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM words, LATERAL unnest(range(1, len(w) - {NGRAM - 2})) AS t(i)
  WHERE len(w) >= {NGRAM}
)"""

_NGRAM_ORACLE = f"""
{_SHINGLE_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 4) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
"""


@q(
    "dedup_exact",
    """SELECT keep_id, n_copies FROM (
         SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         FROM documents GROUP BY md5(text)
       )""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on a content hash, keep the smallest id.
    Hashing first means the shuffle key is 32 bytes instead of the
    full document — the 100 TB version of GROUP BY text."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.encode(F.col("text"), "UTF-8")).alias("h"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


_CONTAIN_NUM = 7  # containment >= 7/10 of the smaller shingle set
_CONTAIN_DEN = 10

_CONTAINMENT_ORACLE = (
    _NGRAM_ORACLE.split("SELECT doc_a, doc_b")[0]
    + f"""SELECT doc_a, doc_b,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(sa.n AS BIGINT) AS na,
       CAST(sb.n AS BIGINT) AS nb
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE n_common * {_CONTAIN_DEN} >= {_CONTAIN_NUM} * LEAST(sa.n, sb.n)
"""
)


@artifact("shingles")
def shingles_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus shingle frame, memoized per (session, sf_dir) and
    eagerly checkpointed — four keys (containment, exact-jaccard
    pairs, incremental probe, MLlib minhash) consume the identical
    tokenization; a real pipeline materializes the shingle index once
    per corpus snapshot (same pattern as ngram_pairs_cached below)."""
    return _shingles(load_table(spark, sf_dir, "documents")).localCheckpoint(
        eager=True
    )


# shingle document frequencies above this trip a loud audit warning at
# evidence-build time: a shingle present in m documents contributes
# m*(m-1)/2 rows to the inverted-index self-join (m x batch for the
# incremental probe), so one boilerplate phrase with df ~ 1e5 costs
# ~5e9 join rows before any threshold can filter. 512 is far above any
# honest near-dup signal at NGRAM=3 and far below where the join hurts.
_DF_WARN = 512

# Refusal budget for the UNCAPPED exact evidence build (VERDICT r7
# #4): pairs_bound above this raises instead of warn-and-proceed —
# measured at sf3skew the uncapped build is 189 s and needs a 64 g
# heap (14 task OOMs on the default), a bill that must not be payable
# by accident. 2.5e8 candidate pairs clears every measured legitimate
# scale (pairs_bound measured r8: sf0.1 1.3e6, sf1 1.27e7, sf3 3.8e7,
# sf1skew 8.19e7 — the last built fine on the default heap in the r7
# full-registry run) and refuses the sf3skew regime (6.93e8).
# Deliberate oracle/probe runs override via
# SPARK_GRAFT_EVIDENCE_PAIRS_CAP (an integer; 0 = unlimited) — env,
# not an arg, because the build fires lazily underneath registry keys
# whose driver-called signature is fixed at (spark, sf_dir).
EVIDENCE_PAIRS_BUDGET = 250_000_000


def audit_exceeds_budget(
    bound: int, bound_dbl: float, max_term_count: int, budget: int
) -> bool:
    """Overflow-safe budget comparison shared by every probe-and-refuse
    guard (ADVICE r8): with ANSI off, the bigint SUM(c*(c-1)) under
    ``pairs_bound`` / ``wedges`` can silently wrap negative past 2^63
    — exactly the huge-count regime the guards exist to refuse — and a
    wrapped-negative bound would read as "under budget" and disable
    the guard when it matters most. Three overflow-immune signals, any
    one of which trips the refusal:

    * the bigint bound itself, when non-negative and over budget;
    * a wrapped (negative) bigint bound — definitionally > 2^63 pairs;
    * the float64 shadow sum (monotone, never wraps; ~1e-16 relative
      error is irrelevant for an order-of-magnitude budget);
    * the single largest term, recomputed in Python's arbitrary-
      precision ints from the (wrap-proof) max count — ADVICE r8's
      cheap pre-check, which alone catches any dominant-key blowup.
    """
    max_term = max_term_count * (max_term_count - 1) // 2
    return (
        bound > budget
        or bound < 0
        or bound_dbl > float(budget)
        or max_term > budget
    )


_DF_PROFILE_CACHE: dict = register_cache({})


def shingle_df_profile_cached(spark: SparkSession, sf_dir: str) -> dict:
    """``shingle_df_profile`` over the memoized shingle frame, itself
    memoized per (session, snapshot) — round 10: a REFUSAL leaves no
    memoized artifact behind (the build raised), so every retry and
    every fallback hop was re-paying the full profile aggregation
    (~4-6 s at sf10skew, a shuffle over ~10^8 shingle rows). Measured
    consequence before this cache: ``routed_triangles`` at sf10skew
    cost 20.8 s — two refused hops x a re-run audit each — against an
    0.65 s LSH tier. The profile is a corpus-snapshot FACT exactly like
    the artifacts, so it caches under the same fingerprint discipline
    and repeated refusals price at dictionary-lookup cost."""
    return snapshot_memo(
        _DF_PROFILE_CACHE,
        spark,
        sf_dir,
        lambda: shingle_df_profile(shingles_cached(spark, sf_dir)),
    )


def shingle_df_profile(sh: DataFrame) -> dict:
    """One-aggregation audit of the shingle document-frequency
    distribution — the quantity that decides whether the EXACT
    evidence join is safe to run on a corpus (VERDICT r6 #3): returns
    ``n_shingles``, ``max_df``, ``p99_df``, ``pairs_bound`` =
    sum over shingles of df*(df-1)/2 (the exact upper bound on the
    self-join's pre-aggregation row count), and ``pairs_bound_dbl``
    (the same sum in float64 — a wrap-proof shadow the budget guards
    cross-check, since the bigint sum can silently wrap past 2^63
    with ANSI off; see ``audit_exceeds_budget``). Costs one shuffle
    over the shingle frame (the same key_distribution-profiler
    shape), which is negligible next to the join it guards."""
    row = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.max("df").alias("max_df"),
            F.expr("percentile_approx(df, 0.99)").alias("p99_df"),
            # pure int64 arithmetic (ADVICE r7): df*(df-1) summed as
            # bigint, halved by shift (each term is even, so the sum
            # is even and the shift is exact division) — a double
            # SUM loses integer exactness past 2^53, precisely the
            # huge-corpus regime this audit exists to price
            F.shiftright(
                F.sum(F.col("df").cast("bigint") * (F.col("df") - 1)), 1
            ).alias("pairs_bound"),
            (
                F.sum(F.col("df").cast("double") * (F.col("df") - 1)) / 2
            ).alias("pairs_bound_dbl"),
        )
        .collect()[0]
    )
    return {
        "n_shingles": int(row.n_shingles or 0),
        "max_df": int(row.max_df or 0),
        "p99_df": int(row.p99_df or 0),
        "pairs_bound": int(row.pairs_bound or 0),
        "pairs_bound_dbl": float(row.pairs_bound_dbl or 0.0),
    }


@artifact("shingle_evidence", parents={"shingles"})
def shingle_evidence_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_common, na, nb) for every doc pair sharing at
    least one shingle — the inverted-index self-join + size join that
    is the dominant cost of the whole exact-dedup family. Memoized and
    eagerly checkpointed per (session, sf_dir): BOTH thresholds
    (Jaccard and containment) are cheap filters over this one
    evidence frame, so running dedup_containment, dedup_ngram_jaccard,
    and the cluster/graph consumers in one session executes the
    expensive shared-shingle join exactly once (previously containment
    re-ran its own copy-pasted join)."""
    # every join side here is CORPUS-sized (the shingle frame and
    # the per-doc size frame), so each join carries an explicit
    # MERGE hint: a localCheckpoint frame reports a bogus tiny
    # sizeInBytes (measured 2.6 MiB for 2.6M string rows at the
    # 10x probe scale), which statically planned a BROADCAST of
    # the corpus side and OOMed the driver — the exact failure a
    # 100 TB run would hit. Sort-merge shuffles on the join key,
    # spills instead of OOMing, and AQE's skew-join splitting
    # still applies (round-6 scale-probe finding).
    sh = shingles_cached(spark, sf_dir)
    # df AUDIT before the join (VERDICT r6 #3): the exact evidence
    # join is quadratic in each shingle's document frequency, and
    # a boilerplate-heavy corpus detonates it silently — one
    # profile pass makes the hazard loud before the cost is paid.
    # The capped tier (dedup_ngram_dfcap / the banded minhash
    # table) is the production escape hatch; this EXACT frame is
    # the oracle surface and stays uncapped by contract. Cached
    # per snapshot (round 10) so refused retries / fallback hops
    # re-price at lookup cost.
    profile = shingle_df_profile_cached(spark, sf_dir)
    print(f"[shingle_evidence] df profile {sf_dir}: {profile}", file=sys.stderr)
    # PROBE-AND-REFUSE above the pair budget (VERDICT r7 #4): the
    # audit already computed the exact pre-aggregation row count
    # of the self-join; past the budget the build refuses with the
    # bounded tiers named, instead of warning and then detonating
    # (the warn-only path let a 189 s / 64 g build start by
    # accident at sf3skew). Env override for deliberate oracle
    # runs, read at BUILD time so a probe can flip it per run.
    budget = env_int("SPARK_GRAFT_EVIDENCE_PAIRS_CAP", EVIDENCE_PAIRS_BUDGET)
    if budget and audit_exceeds_budget(
        profile["pairs_bound"],
        profile["pairs_bound_dbl"],
        profile["max_df"],
        budget,
    ):
        raise ScaleRefusal(
            f"shingle_evidence: the exact inverted-index self-join "
            f"would generate {profile['pairs_bound']} candidate "
            f"pairs (> budget {budget}; max_df="
            f"{profile['max_df']}) — boilerplate-heavy corpus, the "
            "uncapped build is quadratic in shingle df by declared "
            "contract. Route near-dup through dedup_ngram_dfcap "
            "(df-capped evidence, precision-1 lower-bound Jaccard) "
            "or dedup_minhash_lsh (banded, BUCKET_CAP), or set "
            "SPARK_GRAFT_EVIDENCE_PAIRS_CAP=0 (unlimited) for a "
            "deliberate oracle run.",
            key="shingle_evidence",
            measured=profile["pairs_bound"],
            budget=budget,
            alternative="dedup_minhash_lsh",
            override_env="SPARK_GRAFT_EVIDENCE_PAIRS_CAP",
        )
    if profile["max_df"] > _DF_WARN:
        warnings.warn(
            f"shingle df audit: max_df={profile['max_df']} (> {_DF_WARN}) "
            f"bounds the exact evidence self-join at "
            f"{profile['pairs_bound']} candidate pairs — boilerplate-"
            "heavy corpus; route near-dup through dedup_ngram_dfcap "
            "or the banded minhash table (dedup_minhash_lsh) instead "
            "of the exact evidence frame",
            stacklevel=2,
        )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.hint("merge")
        .join(
            b.hint("merge"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(na.hint("merge"), "doc_a")
        .join(nb.hint("merge"), "doc_b")
        .localCheckpoint(eager=True)
    )


@q(
    "dedup_containment",
    _CONTAINMENT_ORACLE,
    artifacts={"shingle_evidence"},
    fallback="dedup_containment_dfcap",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-SUBSET pairs by shingle containment: |A∩B| / min(|A|,|B|)
    >= 0.7. The asymmetric complement of Jaccard dedup — a short
    document quoted or embedded inside a long one scores high
    containment but low Jaccard (the union is dominated by the long
    doc), so a Jaccard-only pipeline ships the training set with the
    quote duplicated. A pure integer filter (n_common * 10 >=
    7 * least(na, nb)) over the shared ``shingle_evidence_cached``
    frame — the output is the integer evidence triple (n_common, na,
    nb), so the oracle hash-matches with no float anywhere."""
    return (
        shingle_evidence_cached(spark, sf_dir)
        .filter(
            F.col("n_common") * _CONTAIN_DEN
            >= _CONTAIN_NUM * F.least("na", "nb")
        )
        .select("doc_a", "doc_b", "n_common", "na", "nb")
    )


@q("dedup_ngram_jaccard", _NGRAM_ORACLE, artifacts={"ngram_pairs"}, fallback="dedup_ngram_dfcap")
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs — registry surface over the
    per-session memoized pair list (``ngram_pairs_cached``): the graph
    consumers (dedup_clusters, graph_degree, graph_pagerank) and this
    key share one materialization of the corpus-snapshot artifact."""
    return ngram_pairs_cached(spark, sf_dir)


def _ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: the Jaccard threshold as a
    filter over the shared ``shingle_evidence_cached`` frame (pairs
    only exist where a shingle is shared — never an all-pairs cross
    join)."""
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        shingle_evidence_cached(spark, sf_dir)
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# document-frequency cap for the bounded-evidence tier: shingles in
# more than DF_CAP documents are excluded from pair EVIDENCE (the same
# boilerplate rationale as BUCKET_CAP for LSH bands — a df-m shingle
# is template text carrying ~zero near-dup signal but m^2/2 join rows)
DF_CAP = 32

_DFCAP_ORACLE = f"""
{_SHINGLE_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {DF_CAP}),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  JOIN rare r ON a.s = r.s
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 4) AS jaccard_lb
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
"""


@artifact("capped_evidence", parents={"shingles"})
def capped_evidence_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_common, na, nb) over the DF_CAP-filtered
    shingle frame — the bounded-tier analogue of
    ``shingle_evidence_cached`` (optimization r13): the three dfcap
    keys (ngram, containment, incremental) previously each re-ran an
    identical rare-filter + self-join + size-join pipeline; one
    memoized checkpoint serves all three as cheap filters, the exact
    sharing round 6 applied to the uncapped evidence. ``n_common``
    counts only shingles with df <= DF_CAP while na/nb keep TRUE set
    sizes, so every consumer's one-sided lower-bound contract is
    unchanged. No refusal guard: the cap bounds the self-join at
    sum min(df, DF_CAP)^2 rows by construction — bounded-by-design is
    the reason this tier exists. MERGE hints for the same
    misreported-checkpoint-stats reason as the uncapped build."""
    sh = shingles_cached(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    rare = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= DF_CAP)
        .select("s")
    )
    capped = sh.hint("merge").join(rare.hint("merge"), "s")
    a, b = capped.alias("a"), capped.alias("b")
    inter = (
        a.hint("merge")
        .join(
            b.hint("merge"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(na.hint("merge"), "doc_a")
        .join(nb.hint("merge"), "doc_b")
        .localCheckpoint(eager=True)
    )


@q("dedup_ngram_dfcap", _DFCAP_ORACLE, artifacts={"capped_evidence"})
def dedup_ngram_dfcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BOUNDED-evidence tier of exact Jaccard dedup (VERDICT r6
    #3): identical to ``dedup_ngram_jaccard`` except shingles whose
    document frequency exceeds {DF_CAP} are dropped BEFORE the
    inverted-index self-join, capping the join at DF_CAP rows per
    shingle — sum df^2 becomes sum min(df, DF_CAP)^2, so one hot
    boilerplate phrase can no longer detonate the build (the df audit
    in ``shingle_evidence_cached`` makes that hazard loud; this key is
    the escape hatch it points at).

    Semantics are a documented one-sided bound, not an approximation
    in the LSH sense: n_common only LOSES capped shingles while the
    denominators (na, nb) keep true set sizes, so the emitted
    ``jaccard_lb`` is a LOWER bound of true Jaccard and every emitted
    pair is a true >= threshold pair (precision 1 vs the exact key;
    recall drops only where boilerplate carried the overlap —
    tests/test_recall.py pins the subset/lower-bound property).
    The capped evidence join lives in ``capped_evidence_cached``
    (shared with the containment and incremental dfcap tiers); this
    key is the Jaccard threshold over it."""
    ev = capped_evidence_cached(spark, sf_dir)
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        ev.filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard_lb"))
    )


_CONTAINMENT_DFCAP_ORACLE = f"""
{_SHINGLE_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {DF_CAP}),
capped AS (SELECT doc_id, s FROM sh JOIN rare USING (s)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common_lb
  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common_lb, sa.n AS na, sb.n AS nb
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE n_common_lb * {_CONTAIN_DEN} >= {_CONTAIN_NUM} * LEAST(sa.n, sb.n)
"""


@q("dedup_containment_dfcap", _CONTAINMENT_DFCAP_ORACLE, artifacts={"capped_evidence"})
def dedup_containment_dfcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BOUNDED tier of containment dedup (round 10 — previously
    the ONE question refused at sf3skew with no servable tier, because
    minhash BANDING approximates Jaccard and cannot honestly stand in
    for the asymmetric metric). df-capping is metric-AGNOSTIC — it is
    exact evidence minus the hot shingles, not a similarity
    approximation — so the dfcap mechanism gives containment the same
    one-sided contract as ``dedup_ngram_dfcap``: ``n_common_lb`` only
    LOSES capped shingles while na/nb keep true set sizes, so every
    emitted pair's TRUE containment >= the capped ratio >= 0.7
    (precision 1 vs the exact key; recall drops only where boilerplate
    carried the overlap — and a pair whose overlap is ENTIRELY one hot
    template phrase is exactly the pair the cap is designed to
    drop). The capped evidence join lives in
    ``capped_evidence_cached`` (shared with the ngram and incremental
    dfcap tiers); this key is the integer containment filter over it."""
    ev = capped_evidence_cached(spark, sf_dir)
    return (
        ev.filter(
            F.col("n_common") * _CONTAIN_DEN
            >= _CONTAIN_NUM * F.least("na", "nb")
        )
        .select(
            "doc_a", "doc_b", F.col("n_common").alias("n_common_lb"), "na", "nb"
        )
    )


# the df-audit as an ORACLE-CHECKED registry surface (round 8): the
# same aggregate shingle_df_profile computes before every evidence
# build, exposed as a query so the audit arithmetic itself — including
# the int64-exact pairs_bound (ADVICE r7) — is hash-verified against
# DuckDB. p99_df stays internal-only: percentile_approx is not
# portably exact across engines, and the refusal logic never uses it.
_DF_AUDIT_ORACLE = f"""
{_SHINGLE_CTE},
df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s)
SELECT CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(MAX(df) AS BIGINT) AS max_df,
       CAST(SUM(df * (df - 1)) // 2 AS BIGINT) AS pairs_bound
FROM df
"""


@q("shingle_df_audit", _DF_AUDIT_ORACLE, artifacts={"shingles"})
def shingle_df_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-flight cost audit of the exact dedup family as a
    first-class query: one aggregation over the corpus shingle index
    returning ``n_shingles``, ``max_df``, and ``pairs_bound`` =
    sum over shingles of df*(df-1)/2 — the EXACT pre-aggregation row
    count of the evidence self-join. This is the number a 100 TB
    pipeline checks BEFORE scheduling exact near-dup (the refusal in
    ``shingle_evidence_cached`` consumes the same aggregate; measured
    round 8: 1.3e6 at sf0.1, 8.2e7 at sf1skew — build fine — 6.9e8 at
    sf3skew, where the uncapped build needs 189 s + a 64 g heap and
    the budget refuses). Pure int64 arithmetic end to end: df*(df-1)
    summed as bigint and halved by shift (every term even, shift is
    exact division), so the bound stays exact past 2^53 — the regime
    a 100 TB corpus actually occupies; the DuckDB oracle uses HUGEINT
    integer division for the same exactness."""
    sh = shingles_cached(spark, sf_dir)
    return (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.max("df").cast("bigint").alias("max_df"),
            F.shiftright(
                F.sum(F.col("df").cast("bigint") * (F.col("df") - 1)), 1
            ).alias("pairs_bound"),
        )
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id -> array<long> MinHash signature (N_PERMS universal
    hashes over crc32(shingle)%PRIME, min per permutation; signature
    is 64x8 bytes per doc regardless of doc size), as a zero-shuffle
    ``mapInArrow`` kernel: a signature is a pure per-document function,
    so the 64-way min never needs a groupBy — each doc shingles (same
    Java-exact tokenization as ``_shingles``), hashes each distinct
    shingle once, and takes column-wise mins of one (shingles x perms)
    int64 matrix. Exactness: a*h+b <= (2^31-1)^2 + 2^31 fits int64, so
    the numpy modmul is bit-identical to the JVM expression it
    replaces (which cost ~2.8s at sf0.1 as a 64-column min aggregate
    over the exploded shingle frame — this kernel is sub-second)."""
    import numpy as np
    import pyarrow as pa
    import zlib

    a_np = np.asarray([a for a, _ in _PERMS], dtype=np.int64)  # (perms,)
    b_np = np.asarray([b for _, b in _PERMS], dtype=np.int64)

    def kernel(batches):
        for batch in batches:
            ids = batch.column("doc_id")
            texts = batch.column("text").to_pylist()
            keep = []
            sigs = []
            for r, txt in enumerate(texts):
                if txt is None:
                    continue
                sh = shingle_set(py_ws_split(txt, lower=True), NGRAM)
                if not sh:
                    continue
                hs = np.fromiter(
                    (zlib.crc32(s.encode("utf-8")) % _PRIME for s in sh),
                    dtype=np.int64,
                    count=len(sh),
                )
                sig = ((hs[:, None] * a_np[None, :] + b_np[None, :]) % _PRIME).min(
                    axis=0
                )
                keep.append(r)
                sigs.append(sig)
            if not keep:
                continue
            sig_mat = np.stack(sigs).reshape(-1)
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(keep, type=pa.int32())),
                    pa.FixedSizeListArray.from_arrays(
                        pa.array(sig_mat, type=pa.int64()), N_PERMS
                    ).cast(pa.list_(pa.int64())),
                ],
                names=["doc_id", "signature"],
            )

    return docs.select("doc_id", "text").mapInArrow(
        kernel, "doc_id bigint, signature array<bigint>"
    )


def minhash_verified_pairs(docs: DataFrame, shingles: DataFrame | None = None) -> DataFrame:
    """MinHash + LSH banding near-dup pairs, verified with exact
    Jaccard. Pipeline: shingle -> crc32 -> 64 min-hashes -> 16 band
    keys -> self-join on (band_idx, band_hash) -> exact verify.

    Scale: the only joins are keyed on band buckets (collision sets),
    so the shuffle volume is O(candidates), not O(n^2); buckets above
    BUCKET_CAP are dropped before the self-join (boilerplate-collision
    guard — at the measured testdata distribution the largest minhash
    bucket is 4, so the cap is a pure safety rail here).

    ``shingles``: pass the session's memoized shingle frame
    (``shingles_cached``) to avoid tokenizing and checkpointing the
    corpus a second time for the exact-verify stage; without it the
    function builds (and materializes) its own."""
    sh = (
        shingles
        if shingles is not None
        else _shingles(docs).localCheckpoint(eager=True)
    )  # feeds the exact verify
    # partition by DATA, not by file count, before the per-doc kernel:
    # the corpus generator (and many real lakes) packs millions of docs
    # into a handful of part files, and the Arrow kernel + the x16 band
    # explode + checkpoint all inherit that file partitioning — at the
    # sf100skew probe (5M docs / 8 files) that meant ~10 partitions of
    # 388+ MB each unrolling into storage while three AQE stages built
    # gigabyte partial-agg maps over them: [UNABLE_TO_ACQUIRE_MEMORY].
    # A round-robin repartition to the session's shuffle parallelism
    # costs one scan-sized shuffle and bounds every downstream task's
    # working set — the same fix a 1000-executor cluster needs, where
    # 10 fat partitions would idle 990 executors.
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sig = minhash_signatures(docs.repartition(n_part))
    rows_per_band = N_PERMS // N_BANDS
    band_entries = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.hash(F.slice("signature", bi * rows_per_band + 1, rows_per_band)).alias(
                            "bucket"
                        ),
                    )
                    for bi in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    # eager checkpoint: referenced by the oversized-bucket stats, the
    # anti-join, and the pair-expansion groupBy. A lazy .cache() does
    # NOT deduplicate that work — the three references live in ONE
    # action, whose concurrent stages race past the unpopulated cache
    # and each recompute the 64-min signature aggregation. The eager
    # checkpoint materializes once, up front; downstream stages read
    # the stored partitions (16 small rows per doc).
    band_entries = band_entries.localCheckpoint(eager=True)
    oversized = (
        band_entries.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > BUCKET_CAP)
        .select("band", "bucket")
    )
    band_entries = band_entries.join(oversized, ["band", "bucket"], "left_anti")
    # pairs within each band bucket via collect_list + array expansion
    # (buckets are <= BUCKET_CAP members after the anti-join, so the
    # arrays are bounded): one shuffle on the bucket key instead of the
    # self-join's two
    grouped = band_entries.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ms")
    )
    pair_arr = _sorted_array_pairs(
        "ms", lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
    )
    candidates = (
        grouped.select(F.explode(pair_arr).alias("p")).select("p.*").distinct()
    )
    # exact-Jaccard verification restricted to candidates (reuses the
    # cached shingle frame from the signature pass)
    # MERGE hints on every corpus-sized side (shingle projections and
    # per-doc sizes): checkpoint-backed frames misreport sizeInBytes
    # as tiny, so the planner would otherwise BROADCAST the corpus —
    # the round-6 scale-probe OOM (see shingle_evidence_cached)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "s")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        candidates.join(sa.hint("merge"), "doc_a")
        .join(sb.hint("merge"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(na.hint("merge"), "doc_a")
        .join(nb.hint("merge"), "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


@artifact("minhash_pairs", parents={"shingles"})
def minhash_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``minhash_verified_pairs`` memoized per (session, sf_dir) and
    eagerly checkpointed — the LSH edge list is the same
    corpus-snapshot artifact as ``ngram_pairs_cached``: both the pair
    key and the cluster key consume it, and a real pipeline
    materializes it once per snapshot rather than re-signing the
    corpus per query."""
    return minhash_verified_pairs(
        load_table(spark, sf_dir, "documents"),
        shingles=shingles_cached(spark, sf_dir),
    ).localCheckpoint(eager=True)


@q("dedup_minhash_lsh", artifacts={"minhash_pairs"})  # no portable-SQL oracle: rows-only check + pytest recall test
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry surface for ``minhash_verified_pairs`` (see that
    docstring for the plan shape); recall/precision vs the exact
    n-gram oracle is asserted in tests/test_recall.py."""
    return minhash_pairs_cached(spark, sf_dir)


@q("dedup_clusters_lsh", artifacts={"minhash_pairs"})  # no portable-SQL oracle: refinement-tested vs dedup_clusters
def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end 100 TB dedup path in one key: LSH-banded
    candidate generation -> exact-Jaccard verify -> connected
    components -> (doc_id, keep_id) drop-list.

    ``dedup_clusters`` computes the same drop-list from the
    all-shared-shingle exact pair set — quadratic in the worst case —
    while this key's edges come from minhash banding, so every join is
    keyed on band buckets and the cost stays O(candidates) at any
    corpus size. Because LSH edges are a verified SUBSET of the exact
    edges, the clustering here is provably a refinement of
    dedup_clusters' (components can split on a missed edge, never
    merge wrongly); tests/test_recall.py asserts the refinement
    property plus a vertex-agreement floor."""
    edges = minhash_pairs_cached(spark, sf_dir)
    labels = connected_components(edges, src="doc_a", dst="doc_b")
    return labels.select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("keep_id")
    )


def simhash_fingerprints(docs: DataFrame, bits: int = 64) -> DataFrame:
    """doc_id -> simhash long: per-bit majority vote over 64-bit token
    hashes, as a zero-shuffle ``mapInArrow`` kernel — a document's
    fingerprint is a pure function of its own text, so the vote never
    needs a groupBy: each batch tokenizes, hashes each DISTINCT token
    once, and takes the per-bit vote as one (counts @ bit-matrix)
    matmul weighted by multiplicity (identical result to voting every
    occurrence, at ~1/7 the hash calls on natural text).

    History (both earlier variants measured at sf0.1): the original
    explode + 33-packed-lane hash aggregate cost 4.4s against this
    kernel's ~1s — 10M exploded token rows through a 33-column
    aggregate vs a per-partition C loop; and its crc32 hash (32-bit)
    left fingerprint bits 32-63 zero for every document, silently
    degenerating half the banding chunks into one all-corpus bucket
    (46k spurious hamming<=3 edges vs 648 genuine ones). The 64-bit
    hash here is crc32(t) | crc32(t + 0x01) << 32 — both halves
    computable anywhere, no external hash lib. Bit 63 stays clear to
    keep the long positive, matching the banding's chunk math."""
    import numpy as np
    import pyarrow as pa
    import zlib
    from collections import Counter

    shifts = np.arange(bits, dtype=np.uint64)
    powers = (np.uint64(1) << shifts).astype(np.uint64)
    powers[bits - 1] = 0  # bit 63 left clear: keep the long positive

    def kernel(batches):
        for batch in batches:
            ids = batch.column("doc_id")
            texts = batch.column("text").to_pylist()
            fps = np.zeros(len(texts), dtype=np.uint64)
            # null/whitespace-only docs are DROPPED, matching the
            # shingle/minhash kernels — an earlier revision emitted
            # fp=0 for them, clustering all empty docs as mutual
            # near-dups the other dedup paths never report
            emitted = np.zeros(len(texts), dtype=bool)
            for r, txt in enumerate(texts):
                if not txt:
                    continue
                counts = Counter(t for t in py_ws_split(txt, lower=True) if t)
                if not counts:
                    continue
                emitted[r] = True
                uniq = list(counts)
                b = np.array([t.encode("utf-8") for t in uniq], dtype=object)
                hs = np.fromiter(
                    (
                        zlib.crc32(tb) | (zlib.crc32(tb + b"\x01") << 32)
                        for tb in b
                    ),
                    dtype=np.uint64,
                    count=len(b),
                )
                mult = np.fromiter(counts.values(), dtype=np.int64, count=len(uniq))
                bitmat = ((hs[:, None] >> shifts[None, :]) & np.uint64(1)).astype(
                    np.int64
                )
                votes = mult @ bitmat  # (bits,) occurrence-weighted
                total = int(mult.sum())
                fps[r] = powers[(2 * votes) > total].sum()
            mask = pa.array(emitted)
            yield pa.RecordBatch.from_arrays(
                [
                    ids.filter(mask),
                    pa.array(fps[emitted].astype(np.int64), type=pa.int64()),
                ],
                names=["doc_id", "simhash"],
            )

    return docs.select("doc_id", "text").mapInArrow(
        kernel, "doc_id bigint, simhash bigint"
    )


def _sorted_array_pairs(ms_col: str, pair_struct):
    """All (earlier, later) element pairs of a SORTED array column as
    one narrow expression — the a<b bucket-expansion idiom shared by
    the minhash and simhash candidate paths, kept in ONE place because
    the 1-based ``slice(ms, i+2, size)`` off-by-one is exactly the kind
    of subtlety a copy drifts on. ``pair_struct(x, y)`` builds the
    output struct from the two (ordered) elements."""
    return F.flatten(
        F.transform(
            ms_col,
            lambda x, i: F.transform(
                # 1-based slice starting just past element i (0-based):
                # partners strictly later in the sorted array
                F.slice(ms_col, i + F.lit(2), F.size(ms_col)),
                lambda y: pair_struct(x, y),
            ),
        )
    )


def _bucket_pairs(members: DataFrame, key_cols: list[str]) -> DataFrame:
    """All a<b pairs within each bucket of ``members`` (doc_id,
    simhash, *key_cols), emitted WITHOUT a self-join: one groupBy
    collects each bucket's members into a sorted array (bounded — the
    caller has already filtered buckets to <= BUCKET_CAP members) and
    a narrow array expression expands the pairs. A self-join on the
    bucket key shuffles the member set twice and re-probes a hash
    table; this shuffles it once and the expansion is pure codegen."""
    grouped = members.groupBy(*key_cols).agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias("ms")
    )
    pairs = _sorted_array_pairs(
        "ms",
        lambda x, y: F.struct(
            x["doc_id"].alias("doc_a"),
            y["doc_id"].alias("doc_b"),
            x["simhash"].alias("ha"),
            y["simhash"].alias("hb"),
        ),
    )
    return grouped.select(F.explode(pairs).alias("p")).select("p.*")


def simhash_edges(docs: DataFrame, cap: int = BUCKET_CAP) -> DataFrame:
    """Hamming<=3-verified near-dup edges from 4x16-bit chunk banding.

    Buckets <= ``cap``: all-pairs candidates within the bucket — exact
    by pigeonhole (<=3 bit diffs over 4 chunks leave >=1 chunk equal).

    Buckets > ``cap`` (degenerate: the testdata's templated corpus
    puts ALL docs in one chunk-value bucket) are RE-BUCKETED, not
    dropped: members of a level-1 bucket already agree on 16 bits, so
    a qualifying pair's <=3 diffs all lie in the remaining 48 bits —
    pigeonhole over 4x12-bit sub-chunks of those bits guarantees a
    shared level-2 sub-bucket. Sub-buckets <= ``cap`` get all-pairs;
    still-oversized sub-buckets (doubly degenerate) fall back to
    multi-star candidates against their ``_N_REPS`` smallest-id
    members — K*n edges, bounded, approximate. Every candidate from
    every level is exact-hamming-verified, so false positives are
    impossible at any level; only doubly-degenerate sub-buckets can
    cost recall.
    """
    fp = simhash_fingerprints(docs)
    chunks = (
        fp.select(
            "doc_id",
            "simhash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(ci).alias("chunk"),
                            F.shiftright(F.col("simhash"), ci * 16)
                            .bitwiseAND(F.lit(0xFFFF))
                            .alias("val"),
                        )
                        for ci in range(4)
                    ]
                )
            ).alias("cc"),
        )
        .select("doc_id", "simhash", "cc.chunk", "cc.val")
        # eager checkpoint, not .cache(): stats + both join branches
        # sit in one action, whose concurrent stages race past a lazy
        # cache and recompute the fingerprint aggregation each — the
        # checkpoint materializes once up front (4 rows x 3 longs per
        # doc, spills to disk at scale)
        .localCheckpoint(eager=True)
    )
    stats = chunks.groupBy("chunk", "val").agg(F.count(F.lit(1)).alias("n"))
    small = chunks.join(
        stats.filter(F.col("n") <= cap).select("chunk", "val"), ["chunk", "val"]
    )
    cand_small = _bucket_pairs(small, ["chunk", "val"])
    # level 2: re-bucket oversized buckets on 4x12-bit sub-chunks of
    # the 48 bits OUTSIDE the level-1 chunk (members agree on the
    # level-1 16 bits, so all <=3 diffs live in those 48)

    big_members = chunks.join(
        stats.filter(F.col("n") > cap).select("chunk", "val"), ["chunk", "val"]
    )
    rest = None
    for c in range(4):
        others = [j for j in range(4) if j != c]
        expr = None
        for pos, j in enumerate(others):
            part = F.shiftleft(
                F.shiftright(F.col("simhash"), j * 16).bitwiseAND(F.lit(0xFFFF)),
                pos * 16,
            )
            expr = part if expr is None else expr + part
        rest = (
            F.when(F.col("chunk") == c, expr)
            if rest is None
            else rest.when(F.col("chunk") == c, expr)
        )
    subbed = (
        big_members.withColumn("rest", rest)
        .select(
            "chunk",
            "val",
            "doc_id",
            "simhash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("sub"),
                            F.shiftright(F.col("rest"), k * 12)
                            .bitwiseAND(F.lit(0xFFF))
                            .alias("subval"),
                        )
                        for k in range(4)
                    ]
                )
            ).alias("ss"),
        )
        .select("chunk", "val", "doc_id", "simhash", "ss.sub", "ss.subval")
        # referenced by substats + both level-2 branches — eager
        # checkpoint for the same single-action reason as `chunks`
        .localCheckpoint(eager=True)
    )
    subkey = ["chunk", "val", "sub", "subval"]
    substats = subbed.groupBy(*subkey).agg(F.count(F.lit(1)).alias("n"))
    sub_small = subbed.join(substats.filter(F.col("n") <= cap).select(*subkey), subkey)
    cand_sub = _bucket_pairs(sub_small, subkey)
    # doubly-degenerate sub-buckets: multi-star to the _N_REPS
    # smallest-id members (row_number streams after the per-bucket
    # sort — no array materialization, a huge bucket spills not OOMs)
    sub_big = subbed.join(substats.filter(F.col("n") > cap).select(*subkey), subkey)
    w = Window.partitionBy(*subkey).orderBy("doc_id")
    reps = (
        sub_big.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _N_REPS)
        .select(
            *subkey,
            F.col("doc_id").alias("rep_id"),
            F.col("simhash").alias("rep_hash"),
        )
    )
    cand_big = (
        sub_big.join(reps, subkey)
        .filter(F.col("doc_id") != F.col("rep_id"))
        .select(
            F.least("rep_id", "doc_id").alias("doc_a"),
            F.greatest("rep_id", "doc_id").alias("doc_b"),
            F.when(F.col("rep_id") < F.col("doc_id"), F.col("rep_hash"))
            .otherwise(F.col("simhash"))
            .alias("ha"),
            F.when(F.col("rep_id") < F.col("doc_id"), F.col("simhash"))
            .otherwise(F.col("rep_hash"))
            .alias("hb"),
        )
    )
    cand = cand_small.union(cand_sub).union(cand_big)
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    # exact-hamming verify BEFORE the duplicate-elimination shuffle:
    # bit_count is a narrow codegen expression, so filtering first
    # means the dropDuplicates exchange carries only true edges (46k
    # at sf0.1) instead of every raw candidate (436k) — on a templated
    # corpus the candidate:edge ratio is ~10x and grows with scale
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


@artifact("simhash_pairs")
def simhash_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``simhash_edges`` memoized per (session, sf_dir) and eagerly
    checkpointed — the hamming-verified simhash edge list is the same
    corpus-snapshot artifact as ``minhash_pairs_cached``: a production
    pipeline maintains the fingerprint/band index once per snapshot
    rather than re-fingerprinting the corpus per query (optimization
    r13; the two-level banding build was ~2.8 s warm of the key's
    ~4 s at sf0.1, re-paid on every bench run)."""
    return simhash_edges(load_table(spark, sf_dir, "documents")).localCheckpoint(
        eager=True
    )


@q("dedup_simhash", artifacts={"simhash_pairs"})  # no portable-SQL oracle: rows-only check + pytest
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup CLUSTERS: 64-bit fingerprints, capped chunk
    banding, exact hamming verify, then connected components. Output
    is the drop-list (doc_id, keep_id) — one row per clustered doc,
    bounded by corpus size — instead of the O(n^2) pair list that
    emitted 177k rows at sf0.1 in round 1 (VERDICT r1 #5).
    Verified in tests/test_recall.py against brute-force hamming
    union-find. The edge list comes from the memoized snapshot
    artifact (``simhash_pairs_cached``), warmed like the minhash band
    table it parallels."""
    edges = simhash_pairs_cached(spark, sf_dir)
    labels = connected_components(edges, src="doc_a", dst="doc_b")
    return labels.select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("keep_id")
    )


@q(
    "embedding_block_audit",
    """SELECT CAST(SUM(n) AS BIGINT) AS n_vectors,
              CAST(COUNT(*) AS BIGINT) AS n_blocks,
              CAST(MAX(n) AS BIGINT) AS max_block,
              CAST(SUM(n * (n - 1)) // 2 AS BIGINT) AS pairs_bound
       FROM (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label)""",
)
def embedding_block_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-dedup pre-flight cost audit as a first-class
    query — third of the round-8 audit family (``shingle_df_audit``,
    ``graph_wedge_audit``): block count, largest block, and
    pairs_bound = sum over label blocks of n*(n-1)/2, the EXACT row
    count of ``dedup_embedding``'s within-block all-pairs join. The
    guard in that key (EMB_PAIRS_BUDGET probe-and-refuse, re-based
    round 9 per VERDICT r8 #2) consumes this same pairs_bound
    aggregate — the quantity that actually prices the join, not the
    max-block size it used to gate on; exposing the full audit
    oracle-checked hash-verifies the arithmetic and gives a 100 TB
    pipeline the number it checks BEFORE scheduling the exact twin
    (largest measured block: 7.5 k at sf3 -> ~2.8e7 pairs; a corpus-
    sized block belongs to dedup_semantic / ann_knn_join instead).
    Same int64 discipline as its siblings: n*(n-1) summed as bigint,
    halved by exact shift; HUGEINT integer division on the DuckDB
    side."""
    blocks = (
        load_table(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return blocks.agg(
        F.sum("n").cast("bigint").alias("n_vectors"),
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.max("n").cast("bigint").alias("max_block"),
        F.shiftright(
            F.sum(F.col("n").cast("bigint") * (F.col("n") - 1)), 1
        ).alias("pairs_bound"),
    )


# total within-block pairs dedup_embedding will score without
# refusing (VERDICT r8 #2): the guard used to gate on max BLOCK SIZE
# (10k vectors), but the sf1clustered registry run paid 57.5 s on
# 2,180-vector blocks the size cap waved through — the actual bill is
# the SUM over blocks of n*(n-1)/2, the exact row count of the
# within-block all-pairs join, which embedding_block_audit already
# computes oracle-checked. 5e7 is the same ceiling the old cap
# intended (one 10k block = 5e7 pairs) but now prices the real work:
# measured bills are ~57-63 s at 2.0e7 pairs (sf1 decades, all three
# distributions — passes, priced) and 483 s at 1.8e8 pairs (sf3
# decades — refuses; the guard names the bill and the flat tiers).
# Every driver/bench scale passes untouched (2e5 pairs at sf0.1).
EMB_PAIRS_BUDGET = 50_000_000


@q(
    "dedup_embedding",
    """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cosine
       FROM embeddings a JOIN embeddings b
         ON a.label = b.label AND a.vec_id < b.vec_id
       WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.3""",
    fallback="dedup_semantic",
)
def dedup_embedding(
    spark: SparkSession, sf_dir: str, pairs_cap: int | None = None
) -> DataFrame:
    """Embedding-cosine near-dup pairs within a blocking key (label).
    Blocking turns the all-pairs O(n^2) into sum over blocks — the
    same role LSH plays for text; at 100 TB the blocking key comes
    from an ANN index (see similarity_q.ann_lsh_bucketed).

    SCALE CONTRACT (measured, BENCH_SCALE.md): the label count does
    NOT grow with the corpus, so per-block population — and with it
    this key's cost — grows quadratically (α = 1.68 at the 10× probe).
    That is declared, not accidental: this is the exact-oracle twin of
    the embedding-dedup family, the same role ``dedup_clusters`` plays
    for the text family. The scale paths are ``dedup_semantic`` and
    ``ann_knn_join`` (constant-cell-population quantizer, measured
    flat) and ``dedup_mllib_minhash``; this key exists to hash-check
    them against DuckDB.

    PAIR-WORK GUARD (VERDICT r6 #5, re-based r9 per VERDICT r8 #2):
    before planning the pair join, one cheap aggregation computes the
    EXACT join row count — sum over label blocks of n*(n-1)/2, the
    same aggregate ``embedding_block_audit`` exposes oracle-checked —
    instead of the old max-block-SIZE probe, which waved through the
    sf1clustered run's 57.5 s bill (2,180-vector blocks under the 10k
    size cap, but 2.0e7 total pairs). Above ``EMB_PAIRS_BUDGET``
    (override via ``pairs_cap`` or env
    ``SPARK_GRAFT_EMB_PAIRS_CAP``; 0 = unlimited for a deliberate
    oracle run) the key REFUSES with the measured bill and the scale
    paths named, using the overflow-safe comparison every guard
    shares (``audit_exceeds_budget``). Measured prices: 2.0e7 pairs
    = ~57-63 s (sf1 decades, passes — a priced, declared cost);
    1.8e8 pairs = 483 s (sf3 decades, refuses). Every driver/bench
    scale passes untouched (2e5 pairs at sf0.1).

    Threshold 0.3 (not the usual ~0.9): the synthetic embeddings'
    max in-label cosine is ~0.47, so a 0.9 cut returns zero rows on
    both engines and verifies nothing (VERDICT r1 #3). 0.3 keeps the
    cosine + blocking logic genuinely exercised by the oracle.

    KERNEL (optimization r13, guide §4.2): the per-pair cosine used to
    be a JVM ``zip_with``+``aggregate`` lambda fold evaluated on every
    join row — interpreted per-element, ~3.5 s of the key's 4.3 s at
    sf0.1's 2.0e5 pairs, and O(pairs x dim) interpreted work at any
    scale. It is now a grouped ``applyInArrow`` kernel: one shuffle of
    the VECTORS by label (2 000 rows at sf0.1 — the lightweight proxy;
    pairs never cross the boundary), then numpy enumerates the
    within-block pairs and accumulates dot and norm DIM-SEQUENTIALLY
    (``acc += A[i,d]*A[j,d]`` in dim order) so every IEEE operation
    matches the old fold (0.0+p0 == p0 exactly) and DuckDB's in-order
    ``list_cosine_similarity`` — hash-verified at sf0.001/0.01/0.1.
    Pairs are processed in bounded chunks so worker RSS stays flat at
    the guard's budget ceiling. Cross-dim pairs are skipped outright:
    the old ``zip_with`` null-padded them into a NULL cosine the
    filter dropped, so the emitted set is identical. The final
    ``>= 0.3`` filter runs in the kernel on the raw double (same
    nearest-double literal both engines parse); the half-up ROUND
    stays JVM-side."""
    # null label / vec_id rows can never satisfy the equi-join + strict
    # inequality the oracle states — the old inner join dropped them
    # implicitly (PushedFilters: IsNotNull(label), IsNotNull(vec_id));
    # the grouped kernel must state the same predicate explicitly or a
    # NULL-label group would emit pairs the oracle never sees
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", "embedding")
        .filter(F.col("label").isNotNull() & F.col("vec_id").isNotNull())
    )
    if pairs_cap is None:
        cap = env_int("SPARK_GRAFT_EMB_PAIRS_CAP", EMB_PAIRS_BUDGET)
    else:
        cap = pairs_cap
    if cap:
        row = (
            e.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.max("n").alias("max_block"),
                F.shiftright(
                    F.sum(F.col("n").cast("bigint") * (F.col("n") - 1)), 1
                ).alias("pairs_bound"),
                (
                    F.sum(F.col("n").cast("double") * (F.col("n") - 1)) / 2
                ).alias("pairs_bound_dbl"),
            )
            .collect()[0]
        )
        bound = int(row.pairs_bound or 0)
        if audit_exceeds_budget(
            bound,
            float(row.pairs_bound_dbl or 0.0),
            int(row.max_block or 0),
            cap,
        ):
            raise ScaleRefusal(
                f"dedup_embedding: the within-block all-pairs join would "
                f"score {bound} pairs (> pair budget {cap}; largest block "
                f"{int(row.max_block or 0)} vectors) — quadratic by "
                "declared contract (measured: 2.0e7 pairs = ~57 s, 1.8e8 "
                "= 483 s). Use the measured-flat scale paths "
                "(dedup_semantic / ann_knn_join, constant-cell-population "
                "quantizer) or pass pairs_cap=0 / set "
                "SPARK_GRAFT_EMB_PAIRS_CAP=0 for a deliberate oracle run.",
                key="dedup_embedding",
                measured=bound,
                budget=cap,
                alternative="dedup_semantic",
                override_env="SPARK_GRAFT_EMB_PAIRS_CAP",
            )
    def block_pairs(tbl):
        import numpy as np
        import pyarrow as pa

        ids_all = tbl.column("vec_id").to_numpy(zero_copy_only=False)
        emb = tbl.column("embedding")
        if emb.num_chunks == 1:
            emb = emb.chunk(0)
        else:  # pragma: no cover — grouped tables arrive single-chunk
            emb = emb.combine_chunks()
        lens = emb.value_lengths().to_numpy(zero_copy_only=False)
        lens = np.nan_to_num(lens.astype(np.float64)).astype(np.int64)
        # float32 values cross the boundary; the float64 upcast here is
        # exact — identical to the JVM's cast(embedding as array<double>)
        flat = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
        bounds = np.concatenate(([0], np.cumsum(lens)))
        out_a, out_b, out_c = [], [], []
        # pairs only WITHIN a dim: zip_with null-padded cross-dim pairs
        # into a NULL cosine the filter dropped, so they never emit.
        # A null-element vector arrives as NaN -> NaN cosine -> same
        # dropped outcome as the JVM's null fold.
        for dim in np.unique(lens):
            sel = np.flatnonzero(lens == dim)
            n = len(sel)
            if n < 2 or dim == 0:
                continue
            order = sel[np.argsort(ids_all[sel], kind="stable")]
            ids = ids_all[order]
            mat = np.stack([flat[bounds[r] : bounds[r] + dim] for r in order])
            # per-vector norm, dim-sequential (matches the old
            # aggregate(transform(v, x*x), 0.0, acc+x) fold exactly)
            nacc = mat[:, 0] * mat[:, 0]
            for d in range(1, int(dim)):
                nacc = nacc + mat[:, d] * mat[:, d]
            nrm = np.sqrt(nacc)
            # pair indices are generated per i-ROW-BLOCK (i-major, j
            # ascending — the exact triu order) instead of one
            # triu_indices(n, 2) materialization: worker RSS stays
            # bounded by ~`chunk` pairs of indices regardless of how
            # high the pairs-budget ceiling is dialed (the old
            # allocation was O(block²) up to the ceiling)
            chunk = 1 << 20
            row_blk = max(1, chunk // max(1, n - 1))
            for r0 in range(0, n - 1, row_blk):
                r1 = min(r0 + row_blk, n - 1)
                per_row = n - 1 - np.arange(r0, r1)
                iu = np.repeat(np.arange(r0, r1), per_row)
                ju = np.concatenate(
                    [np.arange(i0 + 1, n) for i0 in range(r0, r1)]
                )
                # strict vec_a < vec_b: duplicate ids sort adjacent and
                # their positional pair must not emit (the join's < cut
                # it)
                keep = ids[iu] < ids[ju]
                iu, ju = iu[keep], ju[keep]
                for s in range(0, len(iu), chunk):
                    i, j = iu[s : s + chunk], ju[s : s + chunk]
                    acc = mat[i, 0] * mat[j, 0]
                    for d in range(1, int(dim)):
                        acc = acc + mat[i, d] * mat[j, d]
                    cos = acc / (nrm[i] * nrm[j])
                    m = cos >= 0.3
                    out_a.append(ids[i][m])
                    out_b.append(ids[j][m])
                    out_c.append(cos[m])
        cat = lambda xs, dt: (  # noqa: E731
            np.concatenate(xs) if xs else np.empty(0, dtype=dt)
        )
        return pa.table(
            {
                "vec_a": pa.array(cat(out_a, np.int64), type=pa.int64()),
                "vec_b": pa.array(cat(out_b, np.int64), type=pa.int64()),
                "cosine_raw": pa.array(cat(out_c, np.float64), type=pa.float64()),
            }
        )

    pairs = e.groupBy("label").applyInArrow(
        block_pairs, "vec_a bigint, vec_b bigint, cosine_raw double"
    )
    return pairs.select("vec_a", "vec_b", F.round("cosine_raw", 4).alias("cosine"))


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS ({_NGRAM_ORACLE}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(v, c) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.c FROM reach r JOIN edges e ON e.a = r.v
)
SELECT v AS doc_id, MIN(c) AS keep_id FROM reach GROUP BY v
"""


@q("dedup_clusters", _CLUSTERS_ORACLE, artifacts={"ngram_pairs"}, fallback="dedup_clusters_lsh")
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters over the exact Jaccard>=0.5 pair set:
    connected components -> (doc_id, keep_id) drop-list, keep_id being
    the minimum doc_id of the component. The oracle computes the same
    transitive closure with a recursive CTE.

    This is the operator a dedup pipeline actually consumes (drop rows
    where doc_id != keep_id); at 100 TB the edge input swaps to
    dedup_minhash_lsh's verified pairs — same component step."""
    edges = ngram_pairs_cached(spark, sf_dir)
    labels = connected_components(edges, src="doc_a", dst="doc_b")
    return labels.select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("keep_id")
    )


@artifact("ngram_pairs", parents={"shingle_evidence", "shingles"})
def ngram_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact near-dup pair list, memoized per (session, sf_dir)
    and eagerly checkpointed. The similarity graph is a corpus-level
    artifact that several consumers share (dedup_clusters,
    graph_degree, graph_pagerank); a real deployment materializes it
    once per corpus snapshot and serves every downstream graph query
    off it, rather than re-shingling the corpus per query — the memo
    models that shape (same pattern as pipeline_q.synthetic_marts)."""
    return _ngram_jaccard_pairs(spark, sf_dir).localCheckpoint(eager=True)


def _mllib_guard(spark: SparkSession, sf_dir: str) -> None:
    """``dedup_mllib_minhash``'s probe-and-refuse pre-flight (round 9,
    VERDICT r8 #1), shared with the model build so the warm phase
    prices the corpus the same way the key does before building
    anything."""
    budget = env_int("SPARK_GRAFT_MLLIB_PAIRS_CAP", EVIDENCE_PAIRS_BUDGET)
    if not budget:
        return
    profile = shingle_df_profile_cached(spark, sf_dir)
    if audit_exceeds_budget(
        profile["pairs_bound"],
        profile["pairs_bound_dbl"],
        profile["max_df"],
        budget,
    ):
        raise ScaleRefusal(
            f"dedup_mllib_minhash: the corpus shingle-df audit bounds "
            f"the candidate-pair space at {profile['pairs_bound']} "
            f"(> budget {budget}; max_df={profile['max_df']}) — "
            "MLlib approxSimilarityJoin has no bucket-population cap, "
            "scores every in-bucket pair, and lands a hot family's "
            "~m^2/2 pairs on the few tasks owning its band hashes "
            "(measured round 8: 1,219 s at sf3skew pairs_bound 6.9e8, "
            "26 of 32 task slots idle). Route near-dup through "
            "dedup_minhash_lsh (BUCKET_CAP banding, measured flat) or "
            "dedup_ngram_dfcap, or set SPARK_GRAFT_MLLIB_PAIRS_CAP=0 "
            "(unlimited) for a deliberate library-reference run.",
            key="dedup_mllib_minhash",
            measured=profile["pairs_bound"],
            budget=budget,
            alternative="dedup_minhash_lsh",
            override_env="SPARK_GRAFT_MLLIB_PAIRS_CAP",
        )


@artifact("mllib_model", parents={"shingles"})
def mllib_model_cached(spark: SparkSession, sf_dir: str):
    """(binary-TF features frame, fitted MinHashLSH model) for the
    MLlib interop key, memoized per corpus snapshot — the pca_model /
    ivf_model discipline (optimization r14, guide §5): the collect_set
    + HashingTF transform + eager checkpoint (~0.3–0.8 s at sf0.1) and
    the fit are deterministic per snapshot (binary TF is order-
    insensitive, the LSH coefficients are seed-pinned), yet re-ran on
    every call of the key and its routed facade. The
    ``approxSimilarityJoin`` — the query itself — still runs per call.
    The build runs the key's own guard first, so it refuses (the warm
    phase records ``mllib_model!refused``) exactly where the key would
    and a guarded corpus never pays even the linear build for a join
    that will not run."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    _mllib_guard(spark, sf_dir)
    sh = shingles_cached(spark, sf_dir)
    sets = sh.groupBy("doc_id").agg(F.collect_set("s").alias("sh"))
    feats = HashingTF(
        inputCol="sh", outputCol="features", binary=True, numFeatures=1 << 18
    ).transform(sets).localCheckpoint(eager=True)  # fit + self-join reuse
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=7
    ).fit(feats)
    return feats, model


@q("dedup_mllib_minhash", artifacts={"mllib_model"}, fallback="dedup_minhash_lsh")  # approximate: rows-only driver check + pytest recall test
def dedup_mllib_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MLlib-interop near-dup path: shingle sets binarized with
    ``HashingTF(binary=True)`` and fed to ``MinHashLSH``'s
    ``approxSimilarityJoin`` at Jaccard distance <= 1-JACCARD_THRESHOLD
    — the library twin of the hand-rolled ``dedup_minhash_lsh``
    (which exposes its banding; the estimator owns it here). Jaccard
    recomputed by the library on the HASHED feature space, so values
    can differ from exact shingle Jaccard by TF bucket collisions
    (2^18 buckets keeps that rare); tests/test_recall.py asserts pair
    recall against the exact oracle and score agreement to 0.05.

    Skew contract — PRICED, do not use as a scale path (measured
    round 8, BENCH_SCALE.md): ``approxSimilarityJoin`` has NO
    bucket-population cap, so a near-dup family of m docs contributes
    ~m^2/2 candidate pairs that ALL get scored, and they land in
    whichever tasks own the family's band hashes — the quadratic
    comes with a parallelism collapse on top. sf1skew's 2 400-doc hot
    family adds ~2.9 M evaluations (16.1 s vs 14.1 s uniform); at
    sf3skew's 7 200-doc family (~26 M in-family pairs x 8 tables) the
    join took 1 219 s — 76x wall-clock for 3x corpus — with 26 of 32
    task slots idle behind the 6 owning the hot buckets, vs 0.05 s for the
    BUCKET_CAP'd hand-rolled ``dedup_minhash_lsh`` through the same
    9x pair blowup. ``approxSimilarityJoin`` exposes no cap hook, so
    the join itself stays uncapped as the library-behavior reference
    point — but since round 9 it is GUARDED (VERDICT r8 #1): the same
    ``shingle_df_profile`` pairs_bound audit the evidence build
    consumes runs pre-flight, and above the evidence budget (2.5e8 —
    the measured 1,219 s sf3skew regime is 6.93e8, nearly 3x it;
    every legitimate scale including sf1skew's 8.2e7 passes) the key
    REFUSES with the measured bill and the capped twins named.
    ``SPARK_GRAFT_MLLIB_PAIRS_CAP`` (an integer; 0 = unlimited)
    overrides for deliberate library-reference runs. Production
    near-dup routes through ``dedup_minhash_lsh`` /
    ``dedup_ngram_dfcap`` (the same contract split as the df audit's
    escape hatch)."""
    _mllib_guard(spark, sf_dir)
    feats, model = mllib_model_cached(spark, sf_dir)
    pairs = model.approxSimilarityJoin(
        feats, feats, 1.0 - JACCARD_THRESHOLD, distCol="jd"
    )
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(1 - F.col("jd"), 4).alias("jaccard"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
    )


_INCREMENTAL_ORACLE = f"""
{_SHINGLE_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT d.doc_id AS new_doc, b.doc_id AS dup_of, COUNT(*) AS n_common
  FROM sh d JOIN sh b ON d.s = b.s
  WHERE d.doc_id % 2 = 1 AND b.doc_id % 2 = 0
  GROUP BY 1, 2
)
SELECT new_doc, dup_of,
       ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 4) AS jaccard
FROM inter
JOIN sizes sa ON new_doc = sa.doc_id
JOIN sizes sb ON dup_of = sb.doc_id
WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
"""


# the incremental probe's pre-flight cost audit (round 10): the fourth
# skew decade (sf10skew, 500 k docs, hot family ~25 k) caught
# dedup_incremental as the registry's LAST unguarded quadratic path —
# its docstring declared the O(batch x df) detonation contract since
# round 6, but nothing measured it before the join ran, and at sf10skew
# the hot template's delta x base cross is ~4e9 rows (watched
# allocating 4 GiB task pages before this guard existed). probe_rows =
# sum over SHARED shingles of n_delta(s) * n_base(s): the exact
# pre-aggregation row count of the delta-probes-base join.
_INCREMENTAL_AUDIT_ORACLE = f"""
{_SHINGLE_CTE},
split AS (
  SELECT s,
         CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
         CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_base
  FROM sh GROUP BY s
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_shared_shingles,
       CAST(COALESCE(MAX(n_delta * n_base), 0) AS BIGINT) AS max_term,
       CAST(COALESCE(SUM(n_delta * n_base), 0) AS BIGINT) AS probe_rows
FROM split WHERE n_delta > 0 AND n_base > 0
"""


def incremental_probe_profile(sh: DataFrame) -> dict:
    """One-aggregation audit of the incremental probe's join cost:
    per shared shingle the delta x base cross contributes
    n_delta(s) * n_base(s) pre-aggregation rows, so ``probe_rows`` is
    the exact bill of ``dedup_incremental``'s hot join. Same shape and
    discipline as ``shingle_df_profile`` (bigint sum + float64 shadow
    + exact max term); costs one shuffle over the memoized shingle
    frame. The max term is a PRODUCT, not a count, so the guard checks
    it directly in Python ints rather than through the comparator's
    C(n,2) tripwire."""
    term = F.col("n_delta") * F.col("n_base")
    row = (
        sh.groupBy("s")
        .agg(
            F.sum((F.col("doc_id") % 2 == 1).cast("bigint")).alias("n_delta"),
            F.sum((F.col("doc_id") % 2 == 0).cast("bigint")).alias("n_base"),
        )
        .filter((F.col("n_delta") > 0) & (F.col("n_base") > 0))
        .agg(
            F.count(F.lit(1)).alias("n_shared_shingles"),
            F.coalesce(F.max(term), F.lit(0)).cast("bigint").alias("max_term"),
            F.coalesce(F.sum(term), F.lit(0)).cast("bigint").alias("probe_rows"),
            F.coalesce(
                F.sum(term.cast("double")), F.lit(0.0)
            ).alias("probe_rows_dbl"),
        )
        .collect()[0]
    )
    return row.asDict()


_INC_PROFILE_CACHE: dict = register_cache({})


def incremental_probe_profile_cached(spark: SparkSession, sf_dir: str) -> dict:
    """Per-snapshot memo of ``incremental_probe_profile`` — same
    rationale as ``shingle_df_profile_cached``: a refusal memoizes
    nothing, so without this every retry of the guarded probe re-paid
    the audit shuffle."""
    return snapshot_memo(
        _INC_PROFILE_CACHE,
        spark,
        sf_dir,
        lambda: incremental_probe_profile(shingles_cached(spark, sf_dir)),
    )


@q("incremental_probe_audit", _INCREMENTAL_AUDIT_ORACLE, artifacts={"shingles"})
def incremental_probe_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-dedup pre-flight pricing surface as an
    oracle-checked query (the same discipline as ``shingle_df_audit``
    / ``embedding_block_audit`` / ``graph_wedge_audit``): one row of
    n_shared_shingles / max_term / probe_rows, the aggregate
    ``dedup_incremental``'s round-10 guard consumes — so a pipeline
    prices an arrival batch BEFORE scheduling the exact probe, on the
    corpus where the probe would detonate. The float64 shadow stays
    internal (guard-only), mirroring the df audit's p99 exclusion."""
    sh = shingles_cached(spark, sf_dir)
    term = F.col("n_delta") * F.col("n_base")
    return (
        sh.groupBy("s")
        .agg(
            F.sum((F.col("doc_id") % 2 == 1).cast("bigint")).alias("n_delta"),
            F.sum((F.col("doc_id") % 2 == 0).cast("bigint")).alias("n_base"),
        )
        .filter((F.col("n_delta") > 0) & (F.col("n_base") > 0))
        .agg(
            F.count(F.lit(1)).alias("n_shared_shingles"),
            F.coalesce(F.max(term), F.lit(0)).cast("bigint").alias("max_term"),
            F.coalesce(F.sum(term), F.lit(0)).cast("bigint").alias("probe_rows"),
        )
    )


@q(
    "dedup_incremental",
    _INCREMENTAL_ORACLE,
    artifacts={"shingles"},
    fallback="dedup_incremental_dfcap",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the arrival-time shape of a production
    corpus: a NEW BATCH (odd doc_ids here) is near-dup-checked against
    the EXISTING corpus (even doc_ids) without ever re-comparing the
    existing corpus against itself. Only the new batch's shingles probe
    the base inverted index, so per-arrival cost is O(batch x shared
    shingles), not O(corpus^2) — the dedup analogue of
    stream_incremental's checkpointed re-run. Output is the
    (new_doc, dup_of, jaccard) reject list an ingest gate consumes.

    PRODUCTION CONTRACT (VERDICT r6 #3): this EXACT probe is
    O(batch x df) per shared shingle — a shingle present in m base
    documents contributes m rows per probing batch doc, so on a
    boilerplate-heavy corpus (one template phrase with df ~ 1e5) the
    probe detonates regardless of the merge hints. The df audit in
    ``shingle_evidence_cached`` measures exactly this hazard at build
    time. At 100 TB, route arrivals through the BOUNDED tiers and use
    this key as their oracle: probe ``dedup_minhash_lsh``'s persisted
    band-bucket table (per-arrival cost O(batch x bands), BUCKET_CAP
    bounds every bucket) or the ``DF_CAP``ped shingle index
    (``dedup_ngram_dfcap`` — precision-1 lower-bound Jaccard), then
    exact-verify only the surviving candidate pairs with this key's
    machinery over the candidate list instead of the full index.

    Round 10: the contract above is now ENFORCED, not just declared —
    the fourth skew decade (sf10skew) measured this join allocating
    4 GiB task pages on the ~4e9-row hot-family cross, the registry's
    last unguarded quadratic path. ``incremental_probe_profile``
    prices the exact delta x base bill first and the key refuses over
    budget, naming ``dedup_incremental_dfcap`` (the df-capped probe,
    precision-1 lower-bound Jaccard) as the bounded tier;
    SPARK_GRAFT_INCREMENTAL_PAIRS_CAP=0 for a deliberate oracle run."""
    sh = shingles_cached(spark, sf_dir)
    budget = env_int("SPARK_GRAFT_INCREMENTAL_PAIRS_CAP", EVIDENCE_PAIRS_BUDGET)
    if budget:
        profile = incremental_probe_profile_cached(spark, sf_dir)
        # max_term is an exact bigint PRODUCT (n_delta * n_base <=
        # corpus^2/4 — no wrap below ~3e9 docs per side), checked
        # directly; the shared comparator carries the sum + float64
        # shadow + wrap checks
        if (
            audit_exceeds_budget(
                profile["probe_rows"], profile["probe_rows_dbl"], 0, budget
            )
            or profile["max_term"] > budget
        ):
            raise ScaleRefusal(
                f"dedup_incremental: the delta-probes-base join would "
                f"generate {profile['probe_rows']} rows over "
                f"{profile['n_shared_shingles']} shared shingles "
                f"(> budget {budget}; hottest shingle "
                f"{profile['max_term']} rows alone) — the exact probe "
                "is O(batch x df) per shared shingle by declared "
                "contract. Route arrivals through "
                "dedup_incremental_dfcap (df-capped index, precision-1 "
                "lower-bound Jaccard) or the persisted minhash band "
                "table (dedup_minhash_lsh), or set "
                "SPARK_GRAFT_INCREMENTAL_PAIRS_CAP=0 (unlimited) for a "
                "deliberate oracle run.",
                key="dedup_incremental",
                measured=profile["probe_rows"],
                budget=budget,
                alternative="dedup_incremental_dfcap",
                override_env="SPARK_GRAFT_INCREMENTAL_PAIRS_CAP",
            )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    delta = sh.filter(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("new_doc"), "s"
    )
    base = sh.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("dup_of"), "s"
    )
    # the probe join must SHUFFLE on the shingle key, never broadcast
    # the base corpus: checkpoint-backed frames misreport sizeInBytes,
    # and in the demo both halves are corpus-sized anyway (a real
    # deployment with a genuinely small delta would broadcast the
    # DELTA — the other direction — via delta.hint("broadcast"))
    inter = (
        delta.hint("merge")
        .join(base.hint("merge"), "s")
        .groupBy("new_doc", "dup_of")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("new_doc"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("dup_of"), F.col("n").alias("nb"))
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(sa.hint("merge"), "new_doc")
        .join(sb.hint("merge"), "dup_of")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("new_doc", "dup_of", F.round(jac, 4).alias("jaccard"))
    )


_INCREMENTAL_DFCAP_ORACLE = f"""
{_SHINGLE_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {DF_CAP}),
capped AS (SELECT doc_id, s FROM sh JOIN rare USING (s)),
inter AS (
  SELECT d.doc_id AS new_doc, b.doc_id AS dup_of, COUNT(*) AS n_common
  FROM capped d JOIN capped b ON d.s = b.s
  WHERE d.doc_id % 2 = 1 AND b.doc_id % 2 = 0
  GROUP BY 1, 2
)
SELECT new_doc, dup_of,
       ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 4) AS jaccard_lb
FROM inter
JOIN sizes sa ON new_doc = sa.doc_id
JOIN sizes sb ON dup_of = sb.doc_id
WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
"""


@q("dedup_incremental_dfcap", _INCREMENTAL_DFCAP_ORACLE, artifacts={"capped_evidence"})
def dedup_incremental_dfcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BOUNDED tier of incremental dedup (round 10 — the tier the
    guard above routes to): identical delta-probes-base join except
    shingles whose TOTAL document frequency exceeds {DF_CAP} are
    dropped from both sides before the probe, capping the per-shingle
    cross at DF_CAP^2/4 rows — the same boilerplate rationale and the
    same one-sided contract as ``dedup_ngram_dfcap``: n_common only
    LOSES capped shingles while the denominators keep true set sizes,
    so the emitted ``jaccard_lb`` is a lower bound of true Jaccard and
    every emitted (new_doc, dup_of) pair is a true >= threshold pair
    (precision 1 vs the exact probe; recall drops only where
    boilerplate carried the overlap). Per-arrival cost becomes
    O(batch x min(df, {DF_CAP})) — flat on the corpus whose hot
    template detonates the exact twin.

    Derived from ``capped_evidence_cached`` (optimization r13): the
    shared capped frame holds every doc_a < doc_b pair with a rare
    shared shingle, so the delta-probes-base result is exactly its
    mixed-parity slice re-oriented to (new_doc=odd, dup_of=even) —
    n_common and the symmetric Jaccard denominator are unchanged by
    the swap. A real arrival pipeline keys the delta by ingest batch
    instead of parity and probes the persisted capped index the same
    way."""
    ev = capped_evidence_cached(spark, sf_dir).filter(
        (F.col("doc_a") % 2) != (F.col("doc_b") % 2)
    )
    a_is_new = F.col("doc_a") % 2 == 1
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        ev.filter(jac >= JACCARD_THRESHOLD)
        .select(
            F.when(a_is_new, F.col("doc_a")).otherwise(F.col("doc_b")).alias("new_doc"),
            F.when(a_is_new, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dup_of"),
            F.round(jac, 4).alias("jaccard_lb"),
        )
    )


_KEEP_BEST_ORACLE = f"""
WITH RECURSIVE pairs AS ({_NGRAM_ORACLE}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(v, c) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.c FROM reach r JOIN edges e ON e.a = r.v
),
comp AS (SELECT v AS doc_id, MIN(c) AS component FROM reach GROUP BY v),
best AS (
  SELECT component, doc_id AS keep_id,
         ROW_NUMBER() OVER (PARTITION BY component
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM comp JOIN documents USING (doc_id)
)
SELECT c.doc_id, b.keep_id
FROM comp c JOIN best b ON c.component = b.component AND b.rn = 1
"""


@q("dedup_keep_best", _KEEP_BEST_ORACLE, artifacts={"ngram_pairs"}, fallback="dedup_keep_best_lsh")
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: the same near-dup clusters as
    ``dedup_clusters``, but each cluster keeps its LONGEST member
    (n_chars, ties to the lowest doc_id) instead of the smallest id —
    what a real corpus pipeline does, since near-dup groups usually
    contain one full document and several truncated/boilerplate
    variants. One extra broadcast-scale aggregation over the cluster
    labels (argmax via max-of-struct, no window over the corpus); the
    drop-list contract (doc_id, keep_id) is unchanged, so downstream
    consumers swap policies freely."""
    labels = connected_components(ngram_pairs_cached(spark, sf_dir))
    return _keep_best_over(spark, sf_dir, labels)


@q("dedup_keep_best_lsh", artifacts={"minhash_pairs"})  # no portable-SQL oracle: LSH edges; refinement vs dedup_keep_best
def dedup_keep_best_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection over the BANDED-MINHASH
    clusters — the bounded tier ``dedup_keep_best`` routes to
    (round 10): the exact twin's clusters come from the evidence
    join, which correctly refuses at sf3skew, so the keep-longest
    policy was unservable at exactly the boilerplate scale it exists
    for. Identical argmax kernel (``_keep_best_over`` is shared code)
    over ``dedup_clusters_lsh``'s components; since LSH edges are a
    verified SUBSET of the exact pair set, the clustering is a
    refinement — a keep_id can differ from the exact twin's only
    where a component split on a missed edge, never by merging
    unrelated docs (equal at every driver scale; pinned in
    tests/test_router.py)."""
    labels = connected_components(
        minhash_pairs_cached(spark, sf_dir), src="doc_a", dst="doc_b"
    )
    return _keep_best_over(spark, sf_dir, labels)


def _keep_best_over(
    spark: SparkSession, sf_dir: str, labels: DataFrame
) -> DataFrame:
    """Shared keep-longest argmax over (vertex, component) labels (see
    ``dedup_keep_best`` for the policy rationale and the merge-hint
    discipline).

    The argmax is a WINDOW max-of-struct over the component partition
    (optimization r14, guide §2.4 "remove shuffles outright"): the old
    shape aggregated per component and joined the one-row-per-component
    result BACK onto the labels — re-shuffling the label frame a second
    time and paying a second join. A max-over-partition attaches the
    same keep_id to every member in one pass over the single component
    exchange; every member vertex exists in documents by construction
    (vertices come from document pairs), so the row set is unchanged."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # merge hint: the label frame is checkpoint-backed (misreported
    # tiny stats) and vertex-sized — the planner would statically
    # broadcast IT against the corpus scan, backwards at scale
    members = labels.select(
        F.col("vertex").alias("doc_id"), "component"
    ).hint("merge").join(docs, "doc_id")
    best = F.max(
        F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nd"))
    ).over(Window.partitionBy("component"))
    return members.select(
        "doc_id", (-best.getField("nd")).alias("keep_id")
    )


# rolling-window width (tokens) for repeated-span detection
SPAN_W = 8

_SPANS_ORACLE = f"""
    WITH t AS (SELECT doc_id,
                      {sql_ws_split(lower=True)} AS toks
               FROM documents),
    w AS (SELECT DISTINCT doc_id,
                 array_to_string(toks[i:i+{SPAN_W - 1}], ' ') AS span
          FROM t, UNNEST(generate_series(1, greatest(0, len(toks) - {SPAN_W - 1})))
                  AS g(i)),
    s AS (SELECT span FROM w GROUP BY span HAVING COUNT(*) >= 2)
    SELECT doc_id, COUNT(*) AS n_shared_spans
    FROM w JOIN s USING (span)
    GROUP BY doc_id
"""


@q("dedup_spans", _SPANS_ORACLE)
def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-passage detection — the distributed stand-in for
    suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" §4.1): every rolling
    {SPAN_W}-token window is a candidate span; a span occurring in >= 2
    distinct documents marks a shared passage (boilerplate, quoted
    text, template). Output: per-document count of its spans shared
    with any other document — the signal substring-dedup pipelines use
    to clip or drop repeated passages that document-level near-dup
    (minhash/simhash) cannot see.

    Scale shape: windows are built per document (``transform`` over an
    index ``sequence`` — no explode-then-window), de-duplicated per
    document BEFORE the explode (the §6 lesson: array_distinct beats a
    global distinct), and only the 64-bit ``xxhash64`` of each span
    shuffles — never the span text. One shuffle on span hash (window
    count), one on doc_id (the per-doc roll-up). The oracle groups by
    span TEXT; counts agree absent 64-bit collisions (~1e-10 at 1e4
    spans), the same contract as ``dedup_exact``'s md5 key."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", ws_split("text", lower=True).alias("toks")
    )
    windows = F.expr(
        f"CASE WHEN size(toks) >= {SPAN_W} THEN "
        f"transform(sequence(1, size(toks) - {SPAN_W - 1}), "
        f"          i -> concat_ws(' ', slice(toks, i, {SPAN_W}))) "
        "ELSE array() END"
    )
    spans = d.select(
        "doc_id",
        F.explode(F.array_distinct(windows)).alias("span"),
    ).select("doc_id", F.xxhash64("span").alias("h"))
    ndocs = F.count(F.lit(1)).over(Window.partitionBy("h"))
    return (
        spans.withColumn("ndocs", ndocs)
        .filter(F.col("ndocs") >= 2)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
    )


# SemDeDup pruning threshold — 0.3, not the paper's ~0.95, for the
# same reason dedup_embedding uses 0.3: the synthetic embeddings' max
# in-cluster cosine is ~0.47, so a production-grade cut would return
# an empty drop-set and verify nothing
SEMANTIC_TAU = 0.3


@q("dedup_semantic", artifacts={"batch_model", "unit_vectors"})  # approximate blocking: rows-only driver check + contract pytest
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings with k-means and pruning
    near-duplicates WITHIN each cluster only — the published method
    for curating web-scale pre-training corpora where lexical dedup
    (minhash/simhash) misses paraphrases. Greedy keep-lowest-id
    pruning: inside a cluster, a vector is dropped if its cosine to an
    already-kept vector is >= SEMANTIC_TAU, and maps to the FIRST such
    keeper. Output (vec_id, keep_id, cell) for every vector —
    keep_id == vec_id marks survivors — so downstream joins can either
    filter to keepers or remap references.

    Scale shape: the coarse quantizer is the SAME deterministic
    sample-trained k-means the IVF index uses (model-sized driver fit,
    distributed Arrow-kernel assignment), so clustering costs one
    narrow pass; the quadratic pairwise work is confined to one
    cluster at a time inside ``applyInPandas`` (one shuffle on cell),
    and the paper's regime k ∝ n keeps per-cluster membership bounded
    as the corpus grows — implemented: the quantizer is
    ``batch_centroids_cached`` (cells ~ n/125, identical to the shared
    fixed-k model at every driver-checked scale; the fixed-k quadratic
    asymptote is MEASURED in BENCH_SCALE.md). Full greedy contract
    (keeper validity, maximality, determinism) is pinned in
    tests/test_recall.py.

    Quality at scale — measured, and why this key needs NO probe dial
    (unlike ``ann_knn_join``'s pre-flight): single-assignment blocking
    only misses a drop when a >= tau pair straddles a cell boundary,
    and near-dup pairs are far inside cells at every measured
    subdivision — drop recall vs the corpus-wide exact greedy stayed
    0.998 / 0.996 / 0.992 (precision 1.0) across the three clustered
    decades (20 k / 160 cells -> 200 k / 1,600 cells,
    bench_scale_recall_clustered*.json) while the kNN join's
    fixed-probe recall decayed 1.00 -> 0.745 on the same corpora.
    The SemDeDup paper's own within-cluster-only contract is the
    declared approximation; tools/recall_probe.py re-measures it per
    corpus."""
    import numpy as np
    import pandas as pd

    from .similarity_q import (
        assign_cells,
        batch_centroids_cached,
        unit_vectors_cached,
    )

    # shared with the ANN family: one checkpointed normalize and one
    # trained coarse quantizer per (session, corpus snapshot)
    unit = unit_vectors_cached(spark, sf_dir)
    assigned = assign_cells(unit, batch_centroids_cached(spark, sf_dir))

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        x = np.asarray(list(pdf["v"]), dtype=np.float64)  # unit rows
        ids = pdf["vec_id"].to_numpy()
        kept_rows: list[int] = []
        keep_id = np.empty(len(ids), dtype=np.int64)
        for i in range(len(ids)):
            if kept_rows:
                sims = x[kept_rows] @ x[i]
                hit = np.nonzero(sims >= SEMANTIC_TAU)[0]
            else:
                hit = []
            if len(hit):
                keep_id[i] = ids[kept_rows[hit[0]]]
            else:
                keep_id[i] = ids[i]
                kept_rows.append(i)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "keep_id": keep_id,
                "cell": pdf["cell"].to_numpy(),
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        prune, "vec_id bigint, keep_id bigint, cell int"
    )
